package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal single-file transaction log for lake zones — the missing
  * atomic-commit layer that [[Compaction]]'s scaladoc punts to external
  * fencing (reference writes raw prefixes with no table format:
  * `ddb_full_load.py:74` purge+overwrite, Firehose prefix appends at
  * `lib/dynamodb-streaming-datalake-stack.ts:199-203`).
  *
  * Protocol (a one-file Delta/Iceberg-shaped core, no dependencies):
  *  - The LIVE state of a zone is the newest complete commit under
  *    `zone/_txlog/gen-<N>`: either a FULL manifest (the zone-relative
  *    data-file list of generation N with per-file stats) or, for
  *    ordinary appends/merges/deletes, a DELTA commit recording only
  *    the files generation N added and removed relative to its base —
  *    Delta-Lake-style actions, so commit metadata is O(touched files),
  *    never O(table). Data files are immutable once referenced; every
  *    writer writes NEW files into a fresh `d-<uuid>/` subdir and then
  *    publishes a commit. Nothing ever renames or rewrites the files a
  *    concurrent reader may be holding.
  *  - Every [[CheckpointInterval]]-th generation also writes `chk-<N>`,
  *    the full resolved state at N, and advances the `_last_checkpoint`
  *    pointer (temp+atomic-rename; advisory — stale falls back to one
  *    listing). Readers resolve the head by probing forward from the
  *    pointer and folding ≤ interval tail deltas onto the nearest
  *    anchor, so head resolution is O(pointer + tail), not O(history).
  *  - [[vacuum]] folds history into the retention boundary: it anchors
  *    the oldest kept generation with a checkpoint, then drops every
  *    older delta commit, manifest, and checkpoint — a year of 60 s
  *    streaming commits stays a bounded log dir.
  *  - Publish claims the generation number with create-exclusive
  *    (`FileSystem.create(path, overwrite = false)`): two racing writers
  *    cannot both own gen N. Every writer commits through one optimistic
  *    loop ([[commitLoop]]): each attempt says what it changes against a
  *    head and publishes at head+1, and a lost race backs off and meets
  *    the new head by the writer's kind. REBASING writers (append,
  *    replace, meta commits, the merge-on-read commit, restore) publish
  *    the same staged files on it; RECOMPUTING writers (the fold,
  *    deletes, [[replaceCas]]) read their head, so they stage again from
  *    the new one; PINNED writers ([[commitRewrite]], replace with an
  *    expected base, compaction) stop at the first loss. A rebasing
  *    writer's loss does not count while a rival advanced the head; every
  *    other loss counts, and the [[MaxLostRaces]]-th removes the staged
  *    files and fails loudly.
  *  - A manifest is COMPLETE only if its trailing `end` marker parses; a
  *    reader that lists a manifest mid-write fails the parse and falls
  *    back to the previous generation. Readers therefore always see some
  *    full historical file set, never a partial one.
  *  - [[vacuum]] is the only deletion path, and it keeps the newest
  *    `keepGens` generations, so snapshots handed out up to `keepGens-1`
  *    publishes ago remain readable (time travel within the retention
  *    window, like Delta's VACUUM) — their data files and their pending
  *    key files alike.
  *
  * Merge-on-read (protocol 2; Iceberg v2 equality deletes on the merge
  * key, Delta deletion vectors in spirit):
  *  - A streaming keyed merge ([[mergeExactlyOnce]], [[changesExactlyOnce]]
  *    and the sinks over them) writes the batch's upsert rows as new data
  *    files and ONE key file — a `k-<uuid>/` Parquet file, sorted, holding
  *    every key of the batch, upserts and tombstones alike — and publishes
  *    both with the `batchId` mark in one generation. Nothing of the zone
  *    is read or rewritten.
  *  - The manifest records each pending key file with the generation
  *    that committed it and its key bounds (`k ` lines; a delta drops
  *    them with `x ` lines), and while any is pending, each data file's
  *    DATA generation (`g ` lines; a file without one predates every
  *    key file). A file's data generation is the generation that added
  *    it — or, for a REWRITE (the fold, [[compact]], deletes,
  *    [[commitRewrite]] under row-level SQL), the generation the rewrite
  *    read (Iceberg's data sequence number). [[restore]] brings back the
  *    target's key files and data generations with its files.
  *  - LIVENESS: a row of data file F is live iff no pending key file
  *    with a generation above F's data generation holds the row's key.
  *    Every reader applies this once, through [[loadFiles]] (DataFrame
  *    reads) or the DSv2 per-file reader's mask; rewrites are optimistic
  *    — they publish only right after the generation they read, so a key
  *    file landing mid-rewrite fails their claim and they recompute.
  *  - THE FOLD: once the pending key files would reach the count of data
  *    files that predate them ([[foldDue]]), the merge commits
  *    copy-on-write instead: it rewrites every file a pending key file or
  *    the batch can touch, range-clustered by the merge key, and drops
  *    the key files. The batch [[merge]] always folds; [[compact]] folds
  *    whatever the file count. Pending key files hold at most
  *    [[MaxPendingKeys]] keys of an integral or string merge key (readers
  *    hold them on the driver): a batch that would pass the bound, and
  *    every merge on another key type, folds too.
  *  - Protocol: a manifest carrying any of the new lines, or describing a
  *    state with pending key files, is stamped `protocol=2`, which a v1
  *    reader refuses; every other manifest stays `protocol=1`, so a zone
  *    that never took a merge-on-read commit is written exactly as
  *    before.
  *
  * Scale shape: a CHECKPOINT is O(live files) — at 100 TB with 128 MB
  * targets that is ~800k lines (~60 MB), read once per query plan on the
  * driver, never shuffled, and paid once per [[CheckpointInterval]]
  * commits rather than per commit (production formats shard checkpoints
  * past that point — Delta's multi-part checkpoint; the same refinement
  * applies here). A streaming merge commit writes only its own files'
  * actions. Create-exclusive is atomic on HDFS and POSIX; an
  * eventually-consistent object store needs a conditional-put primitive
  * here (the same LogStore caveat Delta documents).
  */
object TxLog {

  /** Typed per-file column statistics: `kind` is "num" (min/max compare
    * as doubles) or "str" (lexicographic — dates/timestamps stringify ISO,
    * so lexicographic == chronological). `min`/`max` are None when the
    * column is entirely null in the file. */
  final case class ColStat(kind: String, rows: Long, nulls: Long,
                           min: Option[String], max: Option[String])

  final case class Snapshot(gen: Long, format: String, files: Seq[String],
                            meta: Map[String, String] = Map.empty,
                            colStats: Map[String, Map[String, ColStat]] = Map.empty,
                            /** generation this one was rebased on (gen-1
                              * unless skip-forward claimed past a torn
                              * corpse); drives the post-publish fork
                              * check. Manifests written before the field
                              * existed read back as gen-1. */
                            base: Long = -1L,
                            /** per-file (bytes, mtimeMillis), stamped at
                              * commit time from what the write tasks
                              * report (or the listing [[init]] and
                              * [[commitRewrite]] do) — so scan planning needs ZERO
                              * per-file FS RPCs (at 800k kept files that
                              * is the difference between a manifest read
                              * and 800k sequential driver HEADs).
                              * Manifests written before the field existed
                              * read back empty; readers fall back to a
                              * per-directory listing for uncovered files. */
                            sizes: Map[String, (Long, Long)] = Map.empty,
                            /** pending key-delete files (zone-relative)
                              * with their generations: merge-on-read
                              * commits not yet folded into the data */
                            keys: Map[String, KeyFile] = Map.empty,
                            /** per-file DATA generation, recorded only
                              * while key files are pending; a file
                              * without an entry predates every pending
                              * key file ([[NoDataGen]]) */
                            dataGens: Map[String, Long] = Map.empty) {
    def resolve(zone: String): Seq[String] =
      files.map(f => zone.stripSuffix("/") + "/" + f)
    def baseGen: Long = if (base >= 0L) base else gen - 1L
    def dataGen(file: String): Long = dataGens.getOrElse(file, NoDataGen)
    /** True while merge-on-read deletes wait to be folded: manifest row
      * counts then overcount the live rows. */
    def pendingDeletes: Boolean = keys.nonEmpty
  }

  /** One key-delete file: the generation that committed it and its key
    * column's stats (bounds bound which data files it can mask). */
  final case class KeyFile(gen: Long, stat: ColStat)

  /** The data generation of a file with no recorded one: older than any
    * key file. */
  private[graft] val NoDataGen = -1L

  /** Placeholder for "the generation this publish claims" in the key
    * files and data generations handed to [[publish]], which substitutes
    * the claimed number before anything is written. */
  private val ThisGen = Long.MinValue

  private def atGen(g: Long)(v: Long): Long = if (v == ThisGen) g else v

  /** The zone meta key naming the merge key the pending key files hold. */
  private[graft] val MergeKeyMeta = "merge.key"

  /** The single column of every key file. */
  private val KeyFileCol = "key"

  /** `rewritten` false = no-op (already compact) or lost-race abort. */
  final case class CompactStats(gen: Long, filesBefore: Long, filesAfter: Long,
                                bytesBefore: Long, rewritten: Boolean)

  private val LogDir = "_txlog"
  private val Header = "graft-txlog v1"

  /** Highest manifest protocol this reader/writer understands. Writers
    * stamp every commit (`protocol=N`) with the lowest protocol that can
    * read it: 2 when the manifest carries key-file or data-generation
    * lines or describes a state with pending key deletes, else 1 — a
    * zone that never took a merge-on-read commit stays readable by v1
    * readers. Readers REFUSE any manifest claiming a higher protocol
    * than theirs — a future format must fail loudly, never be
    * half-parsed as the fields this version happens to know (Delta's
    * minReaderVersion contract). Manifests written before the stamp
    * existed read as protocol 1. */
  private[graft] val ProtocolVersion = 2L

  /** Loud forward-compat refusal — deliberately NOT an IOException /
    * parse failure, so the torn-manifest recovery paths (which treat
    * unreadable bytes as a crash corpse to skip) can never swallow it. */
  final class UnsupportedProtocolException(msg: String)
      extends RuntimeException(msg)

  /** Every `CheckpointInterval`-th generation also writes a `chk-<N>`
    * checkpoint manifest (the FULL resolved state at N) and bumps the
    * `_last_checkpoint` pointer — the Delta-style bound that keeps head
    * resolution at one pointer read + ≤ interval tail commits instead of
    * an O(history) chain walk. */
  private[graft] val CheckpointInterval = 10L

  private def fs(spark: SparkSession, zone: String): FileSystem =
    new Path(zone).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDirPath(zone: String) =
    new Path(zone.stripSuffix("/"), LogDir)

  private def genPath(zone: String, gen: Long) =
    new Path(zone.stripSuffix("/") + "/" + LogDir, f"gen-$gen%020d")

  private def chkPath(zone: String, gen: Long) =
    new Path(zone.stripSuffix("/") + "/" + LogDir, f"chk-$gen%020d")

  /** One shard of a MULTI-PART checkpoint (Delta's multi-part idea): at
    * 100 TB a checkpoint is ~800k per-file lines (~60 MB) — one writer
    * streaming one file serializes the driver on a single PUT and makes
    * the read a single-threaded scan. Past
    * [[checkpointShardLines]] per-file lines the per-file payload splits
    * into `chp-<gen>-<i>-of-<n>` parts (each its own end-terminated,
    * header-stamped file) and the base `chk-<gen>` carries only the kv
    * header + `parts=n` + the total count, written LAST as the commit
    * marker — a crash mid-shard leaves invisible parts, never a
    * half-readable checkpoint, and any torn/missing part makes the whole
    * checkpoint read as absent (the chain-walk fallback, same corpse
    * tolerance as everywhere). */
  private def chpPath(zone: String, gen: Long, i: Int, n: Int) =
    new Path(zone.stripSuffix("/") + "/" + LogDir,
      f"chp-$gen%020d-$i%05d-of-$n%05d")

  /** Shard threshold in per-file LINES (files + stats + sizes). The
    * system property is the ops/test tuning knob; the default keeps
    * every part comfortably re-readable in one buffer. */
  private[graft] def checkpointShardLines: Int =
    sys.props.get("graft.txlog.chk.shardLines").map(_.toInt).getOrElse(100000)

  private def pointerPath(zone: String) =
    new Path(zone.stripSuffix("/") + "/" + LogDir, "_last_checkpoint")

  /** Best-effort checkpoint pointer: the generation of a checkpoint (or
    * vacuum anchor) known to exist. Advisory only — a stale or missing
    * pointer falls back to a directory listing, never to a wrong head. */
  private def readPointer(f: FileSystem, zone: String): Option[Long] =
    try {
      val in = f.open(pointerPath(zone))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .nextOption().flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Pointer update via temp-file + atomic move (the pointer is the one
    * mutable file in the log; a torn overwrite must never be readable).
    * Best-effort: any failure leaves the old pointer, which is merely
    * slower, not wrong. Never moves the pointer backwards. */
  private def writePointer(f: FileSystem, zone: String, gen: Long): Unit =
    try {
      if (readPointer(f, zone).exists(_ >= gen)) return
      val dst = pointerPath(zone)
      val tmp = new Path(dst.getParent, s"._last_checkpoint.tmp-${UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      try out.write((gen.toString + "\n").getBytes("UTF-8")) finally out.close()
      val qualified = f.makeQualified(dst)
      if (qualified.toUri.getScheme == "file") {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(qualified.toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        f.delete(dst, false)
        f.rename(tmp, dst)
      }
    } catch { case _: Exception => () }

  /** The head GENERATION NUMBER without listing the whole log dir: start
    * at the checkpoint pointer and probe forward — claimed generation
    * numbers are contiguous above any complete commit (skip-forward only
    * skips numbers whose torn file EXISTS, and vacuum deletes only below
    * its anchor), so the first missing `gen-(g+1)` marks the frontier.
    * Falls back to one full listing when the pointer is missing/stale —
    * after GC the dir is bounded anyway, so the fallback stays cheap. */
  private def findHeadGen(f: FileSystem, zone: String): Long = {
    readPointer(f, zone) match {
      case Some(p) if f.exists(genPath(zone, p)) || f.exists(chkPath(zone, p)) =>
        var g = p
        while (f.exists(genPath(zone, g + 1))) g += 1
        g
      case _ =>
        val dir = logDirPath(zone)
        if (!f.exists(dir)) -1L
        else f.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("gen-"))
          .flatMap(n => scala.util.Try(n.stripPrefix("gen-").toLong).toOption)
          .sorted.lastOption.getOrElse(-1L)
    }
  }

  /** Newest complete, fully-resolvable snapshot: find the head number,
    * resolve its delta chain back to the nearest anchor (a full manifest
    * or a `chk-` checkpoint), and fold forward. Torn or unresolvable
    * heads step down one number at a time — readers always land on some
    * complete historical state, never a partial one. */
  def latest(spark: SparkSession, zone: String): Option[Snapshot] = {
    val f = fs(spark, zone)
    if (!f.exists(logDirPath(zone))) return None
    var g = findHeadGen(f, zone)
    while (g >= 0L) {
      resolveSnapshot(f, zone, g) match {
        case Some(s) => return Some(s)
        case None => g -= 1L
      }
    }
    None
  }

  // typed-stat value encoding: URL-encode with a "v" prefix so the None
  // sentinel "-" can never collide with a real value
  private def encV(v: Option[String]): String =
    v.map(s => "v" + java.net.URLEncoder.encode(s, "UTF-8")).getOrElse("-")
  private def decV(s: String): Option[String] =
    if (s == "-") None else Some(java.net.URLDecoder.decode(s.substring(1), "UTF-8"))

  /** One parsed, COMPLETE log entry: either a full snapshot manifest
    * (gen-0 inits, checkpoints, rewrite-everything commits) or a
    * delta commit recording only the files this generation added and
    * removed relative to its base — the O(touched-files) encoding that
    * keeps a streaming merge sink's commit metadata proportional to the
    * batch, never the table. */
  private[graft] sealed trait Commit { def gen: Long; def baseGen: Long }
  private[graft] final case class FullCommit(s: Snapshot) extends Commit {
    def gen: Long = s.gen; def baseGen: Long = s.baseGen
  }
  private[graft] final case class DeltaCommit(
      gen: Long, base: Long, format: String,
      adds: Vector[String], removes: Vector[String],
      meta: Map[String, String],
      colStats: Map[String, Map[String, ColStat]],
      sizes: Map[String, (Long, Long)] = Map.empty,
      keyAdds: Map[String, KeyFile] = Map.empty,
      keyRemoves: Vector[String] = Vector.empty,
      dataGens: Map[String, Long] = Map.empty) extends Commit {
    def baseGen: Long = base
  }

  /** The per-file line families, which carry no `=`-free kv shape. */
  private def isLineFamily(l: String): Boolean =
    l.length > 1 && l.charAt(1) == ' ' && "fstbrkgx".indexOf(l.charAt(0)) >= 0

  /** The generation number a manifest path CLAIMS via its filename; a
    * complete body whose recorded gen disagrees (e.g. a stray copy of
    * another generation's bytes) is treated as invalid, not trusted. */
  private def pathGen(p: Path): Option[Long] = {
    val n = p.getName
    val num = if (n.startsWith("gen-")) n.stripPrefix("gen-")
              else if (n.startsWith("chk-")) n.stripPrefix("chk-")
              else return None
    scala.util.Try(num.toLong).toOption
  }

  /** Parse one manifest. `understands` is the highest protocol the
    * reader accepts; only the compat spec passes a lower one, to read as
    * a v1 reader would. */
  private[graft] def readCommit(f: FileSystem, p: Path,
                                understands: Long = ProtocolVersion): Option[Commit] = {
    val in = try f.open(p) catch { case _: java.io.IOException => return None }
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      // completeness FIRST: only an `end`-terminated manifest can claim
      // anything — a file truncated mid-header must read as torn, not as
      // a future format (the fuzz spec truncates at every byte)
      if (lines.isEmpty || lines.last != "end") return None
      // a COMPLETE manifest with a higher header version is a future
      // format — refuse loudly before any field is trusted
      if (lines.head != Header) {
        if (lines.head.startsWith("graft-txlog v"))
          throw new UnsupportedProtocolException(
            s"$p was written by a newer txlog format ('${lines.head}'; this " +
              s"reader understands '$Header') — upgrade the reader; refusing " +
              "to half-parse a future manifest")
        return None
      }
      val body = lines.tail.init
      // protocol check BEFORE the generic body parse: a future manifest
      // may carry line types this parser chokes on (that throw would be
      // swallowed as a torn corpse below, silently serving an OLDER
      // generation), so the refusal must not depend on the rest of the
      // body being parseable
      val proto = body.collectFirst { case l if l.startsWith("protocol=") =>
        val raw = l.substring("protocol=".length)
        // an UNPARSEABLE protocol value on an end-terminated manifest is a
        // future format too ("protocol=2.0", "protocol=x"): a plain
        // NumberFormatException here would be swallowed by the torn-corpse
        // tolerance below and silently serve an OLDER generation — the
        // exact failure the loud refusal exists to prevent
        scala.util.Try(raw.trim.toLong).getOrElse(
          throw new UnsupportedProtocolException(
            s"$p carries an unparseable txlog protocol value '$raw' (this " +
              s"reader understands up to $understands) — upgrade the " +
              "reader; refusing to half-parse a future manifest"))
      }.getOrElse(1L)
      if (proto > understands)
        throw new UnsupportedProtocolException(
          s"$p claims txlog protocol $proto; this reader understands up to " +
            s"$understands — upgrade the reader; refusing to half-parse " +
            "a future manifest")
      val kv = body.filterNot(l => isLineFamily(l) || l.startsWith("m ")).map { l =>
        val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
      }.toMap
      val gen = kv("gen").toLong
      if (!pathGen(p).contains(gen)) return None
      // the stats.col key named the single-column stats of older writers
      // (the "s " lines below): retired, so read and dropped
      val meta = body.filter(_.startsWith("m ")).map { l =>
        val i = l.indexOf('=', 2); (l.substring(2, i), l.substring(i + 1))
      }.toMap - "stats.col"
      // per-file line families — shared by the inline body and any
      // multi-part checkpoint shards spliced in below:
      // "t <relpath>|<col>=<kind>,<rows>,<nulls>,<mn>,<mx>"  typed stats
      // "b <relpath>=<bytes>,<mtimeMillis>"         sizes (optional, new)
      // "f <relpath>"                                             files
      // "s <relpath>=<min>,<max>" — single-column doubles that older
      // writers emitted; still part of v1, so accepted, but no longer
      // written and ignored on read (such files are simply unpruned)
      // protocol 2 adds:
      // "k <relpath>=<gen>,<kind>,<rows>,<nulls>,<mn>,<mx>" key file
      // "g <relpath>=<dataGen>"                   data generation
      // "x <relpath>"                 key file dropped (delta only)
      def parsePerFile(b: Vector[String]) = {
        val cst = b.filter(_.startsWith("t ")).map { l =>
          val eq = l.indexOf('=', 2)
          val key = l.substring(2, eq)
          val bar = key.lastIndexOf('|')
          val Array(kind, rows, nulls, mn, mx) = l.substring(eq + 1).split(",", 5)
          (key.substring(0, bar), key.substring(bar + 1),
            ColStat(kind, rows.toLong, nulls.toLong, decV(mn), decV(mx)))
        }.groupBy(_._1).map { case (file, ts) =>
          file -> ts.map(t => t._2 -> t._3).toMap
        }
        val sz = b.filter(_.startsWith("b ")).map { l =>
          val i = l.lastIndexOf('=')
          val Array(len, mt) = l.substring(i + 1).split(",", 2)
          (l.substring(2, i), (len.toLong, mt.toLong))
        }.toMap
        val keys = b.filter(_.startsWith("k ")).map { l =>
          val i = l.lastIndexOf('=')
          val Array(g, kind, rows, nulls, mn, mx) = l.substring(i + 1).split(",", 6)
          (l.substring(2, i),
            KeyFile(g.toLong, ColStat(kind, rows.toLong, nulls.toLong, decV(mn), decV(mx))))
        }.toMap
        val dgens = b.filter(_.startsWith("g ")).map { l =>
          val i = l.lastIndexOf('=')
          (l.substring(2, i), l.substring(i + 1).toLong)
        }.toMap
        (cst, sz, b.filter(_.startsWith("f ")).map(_.substring(2)), keys, dgens)
      }
      // multi-part checkpoint: splice every shard's per-file lines in
      // BEFORE the completeness count check — a torn/missing shard makes
      // the whole checkpoint read as absent
      val partBody: Vector[String] = kv.get("parts") match {
        case Some(nStr) =>
          val n = nStr.toInt
          val zoneOfP = p.getParent.getParent.toString
          (1 to n).toVector.flatMap { i =>
            val pp = chpPath(zoneOfP, gen, i, n)
            val pin = try f.open(pp) catch {
              case _: java.io.IOException => return None }
            val plines =
              try scala.io.Source.fromInputStream(pin, "UTF-8").getLines().toVector
              finally pin.close()
            if (plines.isEmpty || plines.last != "end" ||
                plines.head != Header) return None
            val pbody = plines.tail.init
            val pkv = pbody.filterNot(isLineFamily)
              .map { l => val j = l.indexOf('='); (l.substring(0, j), l.substring(j + 1)) }
              .toMap
            // each shard carries its own protocol line and gets the same
            // loud refusal as the base chk file — a future-protocol shard
            // must not be half-parsed and spliced silently
            pkv.get("protocol").foreach { raw =>
              val pv = scala.util.Try(raw.trim.toLong).getOrElse(
                throw new UnsupportedProtocolException(
                  s"$pp carries an unparseable txlog protocol value '$raw' " +
                    s"(this reader understands up to $understands) — " +
                    "upgrade the reader; refusing to half-parse a future shard"))
              if (pv > understands)
                throw new UnsupportedProtocolException(
                  s"$pp claims txlog protocol $pv; this reader understands " +
                    s"up to $understands — upgrade the reader; refusing " +
                    "to half-parse a future shard")
            }
            if (!pkv.get("gen").contains(gen.toString) ||
                !pkv.get("part").contains(i.toString) ||
                !pkv.get("parts").contains(n.toString)) return None
            pbody.filter(isLineFamily)
          }
        case None => Vector.empty
      }
      val (colStats, sizes, files, keys, dgens) = parsePerFile(body ++ partBody)
      val base = kv.get("base").map(_.toLong).getOrElse(-1L)
      // key-file counts are written only when nonzero (v1 manifests
      // carry none)
      def count(k: String) = kv.get(k).map(_.toLong).getOrElse(0L)
      if (kv.get("kind").contains("delta")) {
        val removes = body.filter(_.startsWith("r ")).map(_.substring(2))
        val keyRemoves = body.filter(_.startsWith("x ")).map(_.substring(2))
        // completeness: EVERY count must match (a truncated delta could
        // otherwise drop its tail removes and resurrect deleted files)
        if (kv.get("addcount").map(_.toLong).contains(files.size.toLong) &&
            kv.get("rmcount").map(_.toLong).contains(removes.size.toLong) &&
            count("kaddcount") == keys.size && count("krmcount") == keyRemoves.size &&
            base >= 0L)
          Some(DeltaCommit(gen, base, kv("format"), files.toVector,
            removes.toVector, meta, colStats, sizes, keys, keyRemoves.toVector, dgens))
        else None
      } else {
        if (kv.get("count").map(_.toLong).contains(files.size.toLong) &&
            count("kcount") == keys.size)
          Some(FullCommit(Snapshot(gen, kv("format"), files, meta,
            colStats, base = base, sizes = sizes, keys = keys, dataGens = dgens)))
        else None
      }
    } catch {
      // the protocol refusal must escape the torn-corpse tolerance below
      case e: UnsupportedProtocolException => throw e
      case _: Exception => None
    }
    finally in.close()
  }

  /** Fold one delta onto its resolved base state. Per-file stats are
    * immutable once committed (data files never change), so a delta's
    * stat entries cover exactly its added files. */
  private def applyDelta(s: Snapshot, d: DeltaCommit): Snapshot = {
    val rm = d.removes.toSet
    val keys = (s.keys -- d.keyRemoves) ++ d.keyAdds
    Snapshot(d.gen, d.format,
      (s.files.filterNot(rm) ++ d.adds).distinct.sorted, d.meta,
      (s.colStats -- rm) ++ d.colStats,
      base = d.base, sizes = (s.sizes -- rm) ++ d.sizes,
      keys = keys,
      // data generations only mean something next to pending key files
      dataGens = if (keys.isEmpty) Map.empty else (s.dataGens -- rm) ++ d.dataGens)
  }

  /** The complete state at generation `gen`: walk base pointers back
    * through delta commits until an ANCHOR — a full manifest, or a
    * `chk-` checkpoint standing in for one — then fold the deltas
    * forward. Bounded by the checkpoint interval in steady state; None
    * when `gen` is torn, missing, or its chain is broken (the caller
    * steps down or reports the generation as gone). */
  private def resolveSnapshot(f: FileSystem, zone: String, gen: Long): Option[Snapshot] = {
    var deltas = List.empty[DeltaCommit]
    var g = gen
    var anchor: Option[Snapshot] = None
    // hard bound: a chain longer than this means checkpoints were never
    // written (legacy zone) — still resolved, just linearly
    var steps = 0
    while (anchor.isEmpty && steps < 1000000) {
      steps += 1
      readCommit(f, genPath(zone, g)) match {
        case Some(FullCommit(s)) => anchor = Some(s)
        case Some(d: DeltaCommit) =>
          readCommit(f, chkPath(zone, g)) match {
            // a checkpoint AT g short-circuits the walk; keep the delta's
            // true base so fork accounting survives reconstruction
            case Some(FullCommit(c)) => anchor = Some(c.copy(base = d.base))
            case _ => deltas ::= d; g = d.base
          }
        case None =>
          // gen file gone (GC'd below a vacuum anchor) but its checkpoint
          // kept: the checkpoint IS the state
          readCommit(f, chkPath(zone, g)) match {
            case Some(FullCommit(c)) => anchor = Some(c)
            case _ => return None
          }
      }
    }
    anchor.map(a => deltas.foldLeft(a)(applyDelta))
  }

  /** Write the FULL resolved state at `gen` as a `chk-<gen>` checkpoint
    * manifest (create-exclusive — racing checkpointers write identical
    * content, so the loser just skips) and advance the pointer.
    * Best-effort: a failed checkpoint costs chain-walk length, never
    * correctness. */
  private def writeCheckpoint(f: FileSystem, zone: String, s: Snapshot): Unit =
    try {
      val pf = perFileLines(s.files, s.colStats, s.sizes, s.keys, s.dataGens)
      val shard = checkpointShardLines
      val proto = protocolFor(s.pendingDeletes)
      if (pf.size <= shard) {
        tryCreate(f, chkPath(zone, s.gen)).foreach { out =>
          try out.write(manifestBody(delta = false, gen = s.gen,
            base = s.baseGen, format = s.format, files = s.files,
            removes = Nil, meta = s.meta,
            colStats = s.colStats, sizes = s.sizes,
            keys = s.keys, dataGens = s.dataGens).getBytes("UTF-8"))
          finally out.close()
        }
      } else {
        // MULTI-PART: per-file lines split deterministically into n
        // shards (racing checkpointers write byte-identical parts, so
        // create-exclusive losers just skip); the base chk-<gen> lands
        // LAST as the commit marker — until it exists no reader sees
        // the parts, and after it exists a torn part reads as no
        // checkpoint at all (never a partial state).
        val n = ((pf.size + shard - 1) / shard)
        pf.grouped(shard).zipWithIndex.foreach { case (chunk, idx) =>
          tryCreate(f, chpPath(zone, s.gen, idx + 1, n)).foreach { out =>
            val b = new StringBuilder(Header).append('\n')
              .append("protocol=").append(proto).append('\n')
              .append("gen=").append(s.gen).append('\n')
              .append("part=").append(idx + 1).append('\n')
              .append("parts=").append(n).append('\n')
            chunk.foreach(l => b.append(l).append('\n'))
            b.append("end\n")
            try out.write(b.toString.getBytes("UTF-8")) finally out.close()
          }
        }
        tryCreate(f, chkPath(zone, s.gen)).foreach { out =>
          val b = new StringBuilder(Header).append('\n')
            .append("protocol=").append(proto).append('\n')
            .append("gen=").append(s.gen).append('\n')
            .append("base=").append(s.baseGen).append('\n')
            .append("format=").append(s.format).append('\n')
            .append("parts=").append(n).append('\n')
            .append("count=").append(s.files.size).append('\n')
          if (s.keys.nonEmpty) b.append("kcount=").append(s.keys.size).append('\n')
          s.meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
            b.append("m ").append(k).append('=').append(v).append('\n') }
          b.append("end\n")
          try out.write(b.toString.getBytes("UTF-8")) finally out.close()
        }
      }
      writePointer(f, zone, s.gen)
    } catch { case _: Exception => () }

  /** A writer that crashes between claiming a generation (create-exclusive)
    * and completing the manifest body leaves a TORN manifest occupying the
    * number: `latest` skips it, so every later publish recomputes the same
    * head and collides with the corpse forever — one crash would wedge the
    * zone. Collisions therefore SKIP PAST torn manifests older than this
    * grace window and claim the next free generation number. Skipping —
    * rather than delete-and-recreate — keeps the publish path free of
    * deletions, so there is no window in which a second reclaimer's stale
    * view of the corpse can delete the first reclaimer's freshly created
    * in-flight manifest (the delete form loses an acknowledged commit in
    * exactly the multi-writer-retry scenario reclaim exists for).
    * `latest` and [[vacuum]] already tolerate generation gaps, and vacuum
    * GC's the corpse itself once it ages out. Complete manifests are
    * never skipped, and the window is sized so an IN-FLIGHT publish
    * (created milliseconds ago, body still streaming) is never bypassed
    * — its writer still owns its number. */
  private[operators] val TornManifestGraceMs: Long = 15L * 60L * 1000L

  /** The atomic generation claim: create-if-absent. HDFS enforces this at
    * the namenode, but the Hadoop local filesystem implements
    * create(overwrite=false) as exists()-then-create — two racing writers
    * can both pass the check and silently overwrite each other. On file:
    * URIs go straight to O_CREAT|O_EXCL via CREATE_NEW. */
  private def tryCreate(f: FileSystem, p: Path): Option[java.io.OutputStream] = {
    val qualified = f.makeQualified(p)
    if (qualified.toUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(qualified.toUri.getPath)
      try Some(java.nio.file.Files.newOutputStream(local,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => None
        case _: java.io.IOException => None
      }
    } else {
      try Some(f.create(p, /*overwrite=*/ false))
      catch { case _: java.io.IOException => None }
    }
  }

  /** What a collided generation path currently holds. */
  private sealed trait Occupant
  private case object Vanished extends Occupant      // retry the same number
  private case object TornExpired extends Occupant   // corpse: skip the number
  private case object Owned extends Occupant         // complete or in-flight

  private def occupant(f: FileSystem, p: Path): Occupant =
    try {
      val st = f.getFileStatus(p)
      if (readCommit(f, p).nonEmpty) Owned
      else if (st.getModificationTime <
        System.currentTimeMillis() - TornManifestGraceMs) TornExpired
      else Owned
    } catch {
      case _: java.io.FileNotFoundException => Vanished
      case _: java.io.IOException => Owned
    }

  /** The protocol a manifest is stamped with: 2 only when it carries
    * the merge-on-read line families (or describes a state with pending
    * key deletes), so a v1 reader refuses exactly what it cannot read. */
  private def protocolFor(mergeOnRead: Boolean): Long = if (mergeOnRead) 2L else 1L

  /** Serialize one manifest body. A FULL manifest (`delta = false`)
    * lists every live file with its stats, plus the pending key files;
    * a DELTA commit lists only `files` = the generation's ADDED files
    * (with their stats), `removes` = the files it dropped, and the key
    * files it added (`keys`) and dropped (`keyRemoves`), each count
    * pinned so a truncated tail can never parse as complete. */
  private def manifestBody(delta: Boolean, gen: Long, base: Long,
                           format: String, files: Seq[String],
                           removes: Seq[String], meta: Map[String, String],
                           colStats: Map[String, Map[String, ColStat]],
                           sizes: Map[String, (Long, Long)] = Map.empty,
                           keys: Map[String, KeyFile] = Map.empty,
                           keyRemoves: Seq[String] = Nil,
                           dataGens: Map[String, Long] = Map.empty,
                           pendingDeletes: Boolean = false): String = {
    val body = new StringBuilder(Header).append('\n')
      .append("protocol=").append(protocolFor(pendingDeletes || keys.nonEmpty ||
        keyRemoves.nonEmpty || dataGens.nonEmpty)).append('\n')
      .append("gen=").append(gen).append('\n')
      .append("base=").append(base).append('\n')
    if (delta) body.append("kind=delta\n")
    body.append("format=").append(format).append('\n')
    if (delta) {
      body.append("addcount=").append(files.size).append('\n')
        .append("rmcount=").append(removes.size).append('\n')
      if (keys.nonEmpty) body.append("kaddcount=").append(keys.size).append('\n')
      if (keyRemoves.nonEmpty) body.append("krmcount=").append(keyRemoves.size).append('\n')
    } else {
      body.append("count=").append(files.size).append('\n')
      if (keys.nonEmpty) body.append("kcount=").append(keys.size).append('\n')
    }
    meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      body.append("m ").append(k).append('=').append(v).append('\n') }
    perFileLines(files, colStats, sizes, keys, dataGens)
      .foreach(l => body.append(l).append('\n'))
    removes.sorted.foreach(fl => body.append("r ").append(fl).append('\n'))
    keyRemoves.sorted.foreach(fl => body.append("x ").append(fl).append('\n'))
    body.append("end\n")
    body.toString
  }

  /** The per-file line families (t/b/f, and k/g while key deletes are
    * pending), rendered in the canonical order — the unit multi-part
    * checkpoints shard on. */
  private[graft] def perFileLines(files: Seq[String],
                           colStats: Map[String, Map[String, ColStat]],
                           sizes: Map[String, (Long, Long)],
                           keys: Map[String, KeyFile] = Map.empty,
                           dataGens: Map[String, Long] = Map.empty): Vector[String] = {
    val out = Vector.newBuilder[String]
    colStats.toSeq.sortBy(_._1).foreach { case (file, perCol) =>
      perCol.toSeq.sortBy(_._1).foreach { case (c, st) =>
        out += s"t $file|$c=${st.kind},${st.rows},${st.nulls}," +
          s"${encV(st.min)},${encV(st.max)}" } }
    sizes.toSeq.sortBy(_._1).foreach { case (file, (len, mt)) =>
      out += s"b $file=$len,$mt" }
    keys.toSeq.sortBy(_._1).foreach { case (file, KeyFile(g, st)) =>
      out += s"k $file=$g,${st.kind},${st.rows},${st.nulls}," +
        s"${encV(st.min)},${encV(st.max)}" }
    dataGens.toSeq.sortBy(_._1).foreach { case (file, g) => out += s"g $file=$g" }
    files.sorted.foreach(fl => out += s"f $fl")
    out.result()
  }

  /** Atomically publish `next` as a new generation at number `next.gen`
    * (rebased on head `next.gen - 1`) — or, when that number is occupied
    * by a crash-torn manifest past the grace window, at the next free
    * number (the corpse is skipped, never deleted; see
    * [[TornManifestGraceMs]]). Returns the published snapshot (claimed
    * number, [[ThisGen]] placeholders resolved, data generations dropped
    * when no key file is pending), or None when another writer owns the
    * number with a complete or in-flight manifest — the caller rebases on
    * the new head and retries.
    *
    * FORK CHECK: number-skipping (and a vacuumed corpse freeing a number
    * below an in-flight higher claim) makes it possible for two writers
    * rebased on the SAME head to both complete, at different numbers —
    * the higher manifest would silently drop the lower writer's files.
    * Two defenses, both one directory listing:
    *
    *  1. CLAIM GUARD — right after create-exclusive succeeds, the writer
    *     lists the log; if a COMPLETE manifest with a HIGHER number
    *     already exists, the claimed number is a vacuum-freed hole below
    *     the head — the writer releases its claim and rebases. This
    *     kills the stale-writer-reclaims-a-freed-number arm before any
    *     body is written.
    *  2. FORK CHECK — every manifest records its `base` generation, and
    *     after completing the body the writer re-lists: a rival COMPLETE
    *     manifest with `gen > base` and `base <= our base` means the
    *     chains forked — this writer deletes its OWN manifest (never the
    *     rival's) and reports a lost race. Both arms close before either
    *     checks is impossible in one order (each check follows its own
    *     close), so at most one arm survives; both may yield (both saw
    *     each other) and both then retry — safe. A successor that
    *     rebased ON our generation has `base >= our gen > our base` and
    *     never triggers the check, so serialized commits see no false
    *     aborts.
    *
    * RESIDUAL WINDOW (documented, not closed — the local FS offers no
    * atomic publish primitive to close it): between this writer's body
    * close and its fork-check delete, a successor can read the soon-to-
    * be-deleted manifest as head and build on it, resurrecting the
    * yielded arm's FILES while the rival arm's writer has already
    * acknowledged. Reaching it requires a crash-torn manifest, a vacuum
    * that GC'd it, a stale writer reclaiming the freed number inside the
    * claim-guard race window, AND a successor landing inside this
    * sub-second close-to-check interval — four independent actors. The
    * rebase path dedupes file lists, so even then no row duplicates; the
    * exposure is the rival arm's acknowledged rows missing from the
    * successor chain, the same single-writer-per-zone caveat
    * [[exactlyOnceAppend]] already documents. */
  private def publish(spark: SparkSession, zone: String, next: Snapshot,
                      base: Option[Snapshot]): Option[Snapshot] = {
    require(next.meta.forall { case (k, v) =>
      !k.contains('=') && !(k + v).exists(c => c == '\n' || c == '\r') },
      s"manifest meta keys must be =-free and values newline-free: ${next.meta}")
    require(next.colStats.values.flatMap(_.keys).forall(c =>
      !c.contains('|') && !c.contains('=') && !c.contains(',')),
      "stats column names must be free of | = , characters")
    val f = fs(spark, zone)
    val gen = next.gen
    f.mkdirs(genPath(zone, gen).getParent)
    var g = gen
    var claimed: Option[java.io.OutputStream] = None
    // bounded walk: each step either retries a vanished path or skips one
    // expired corpse; anything else is a genuine lost race
    var steps = 0
    while (claimed.isEmpty && steps < 64) {
      steps += 1
      val p = genPath(zone, g)
      claimed = tryCreate(f, p)
      if (claimed.isEmpty) occupant(f, p) match {
        case Vanished    => () // vacuumed between collide and check: same g
        case TornExpired => g += 1
        case Owned       => return None
      }
    }
    val out = claimed.getOrElse(return None)
    val baseGen = gen - 1L
    // claim guard (see scaladoc): a COMPLETE manifest numbered above our
    // claim means we grabbed a vacuum-freed hole below the head — release
    // the claim (ours, body-less, safe to delete) and rebase. The guard
    // runs while our claim stream is open, so ANY failure here must also
    // release it: leaking the empty claim would wedge the number behind
    // occupant=Owned until the torn-manifest grace window expires.
    val aboveUs = try {
      val dir0 = genPath(zone, g).getParent
      f.listStatus(dir0).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("gen-") &&
          scala.util.Try(p.getName.stripPrefix("gen-").toLong).toOption.exists(_ > g))
        .exists(p => readCommit(f, p).isDefined)
    } catch { case e: Throwable =>
      // best-effort each step: a close() that ALSO throws (same flaky FS)
      // must not skip the delete or mask the original error
      try out.close() catch { case _: Throwable => () }
      try f.delete(genPath(zone, g), false) catch { case _: Throwable => () }
      throw e
    }
    if (aboveUs) {
      try out.close() catch { case _: Throwable => () }
      f.delete(genPath(zone, g), false)
      return None
    }
    // the claimed number is now known: stamp it into this commit's key
    // files and data generations
    val keys = next.keys.map { case (p, k) => p -> k.copy(gen = atGen(g)(k.gen)) }
    val s = next.copy(gen = g, base = baseGen, keys = keys,
      dataGens = if (keys.isEmpty) Map.empty
                 else next.dataGens.map { case (p, d) => p -> atGen(g)(d) })
    try {
      // DELTA ENCODING: commit metadata must be O(touched files), never
      // O(table) — at a streaming merge sink's cadence a full-snapshot
      // manifest per commit writes the whole live-file list every 60 s.
      // When the diff against the rebased head is no smaller than the
      // full list (replace/compact/restore-far), write a FULL manifest
      // instead: same bytes, and it doubles as a chain ANCHOR.
      val body = base match {
        case Some(b) =>
          val baseSet = b.files.toSet
          val nextSet = s.files.toSet
          val adds = s.files.filterNot(baseSet)
          val removes = b.files.filterNot(nextSet)
          if (adds.size + removes.size >= s.files.size)
            manifestBody(delta = false, g, baseGen, s.format, s.files, Nil,
              s.meta, s.colStats, s.sizes, keys, dataGens = s.dataGens)
          else
            manifestBody(delta = true, g, baseGen, s.format, adds, removes,
              s.meta,
              s.colStats.filter { case (k, v) => !baseSet(k) || !b.colStats.get(k).contains(v) },
              s.sizes.filter { case (k, v) => !baseSet(k) || !b.sizes.get(k).contains(v) },
              keys.filter { case (k, v) => !b.keys.get(k).contains(v) },
              b.keys.keys.filterNot(keys.contains).toSeq,
              s.dataGens.filter { case (k, v) => !b.dataGens.get(k).contains(v) },
              pendingDeletes = keys.nonEmpty)
        case None =>
          manifestBody(delta = false, g, baseGen, s.format, s.files, Nil,
            s.meta, s.colStats, s.sizes, keys, dataGens = s.dataGens)
      }
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    // fork check (see scaladoc): a rival complete manifest that was also
    // rebased on our base (or older) means two chains — yield ours. The
    // filename encodes the generation, so only manifests numbered above
    // our base are parsed: in a serialized history that set is exactly
    // {ours}, making the check one directory listing and zero reads.
    val dir = genPath(zone, g).getParent
    val rivals = f.listStatus(dir).toSeq.map(_.getPath)
      .filter { p =>
        p.getName.startsWith("gen-") && p.getName != genPath(zone, g).getName &&
          scala.util.Try(p.getName.stripPrefix("gen-").toLong).toOption
            .exists(_ > baseGen)
      }
      .flatMap(p => readCommit(f, p))
      .filter(c => isForkRivalGen(c.gen, c.baseGen, baseGen))
    if (rivals.nonEmpty) {
      f.delete(genPath(zone, g), false)
      None
    } else {
      // CHECKPOINT HOOK: every CheckpointInterval-th generation also
      // writes its full resolved state as chk-<g> and bumps the pointer,
      // bounding every later reader's chain walk. The publisher holds the
      // complete next state in memory, so this is one extra small write —
      // and best-effort: a crash here only lengthens chains.
      if (g > 0L && g % CheckpointInterval == 0L) writeCheckpoint(f, zone, s)
      Some(s)
    }
  }

  /** The fork-check predicate, factored for direct testing (the claim
    * guard resolves most staged races before the post-close check can
    * fire, so this logic is hard to reach end-to-end): a COMPLETE rival
    * manifest is a fork arm iff it is numbered above our base AND was
    * itself rebased on our base or older. A successor that built ON our
    * generation has `baseGen >= our gen > our base` and is never a
    * rival; our own base and its ancestors are numbered <= our base. */
  private[graft] def isForkRival(m: Snapshot, ourBase: Long): Boolean =
    isForkRivalGen(m.gen, m.baseGen, ourBase)

  private def isForkRivalGen(gen: Long, base: Long, ourBase: Long): Boolean =
    gen > ourBase && base <= ourBase

  /** Recursive data-file listing under `dir`, zone-relative, WITH each
    * file's (bytes, mtimeMillis) — for the committers that list ([[init]],
    * [[listStaged]]), which stamp the sizes into the manifest and so save
    * every later scan plan a per-file `getFileStatus` pass. */
  private def listRelInfo(f: FileSystem, zoneRoot: Path, dir: Path)
      : Seq[(String, (Long, Long))] = {
    val it = f.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, (Long, Long))]
    val rootUri = zoneRoot.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith("."))
        buf += ((st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"),
          (st.getLen, st.getModificationTime)))
    }
    buf.toSeq.sortBy(_._1)
  }

  private def listRel(f: FileSystem, zoneRoot: Path, dir: Path): Seq[String] =
    listRelInfo(f, zoneRoot, dir).map(_._1)

  /** Live bytes of a snapshot: from the committed per-file sizes when
    * they cover every file (zero FS calls), else one `getFileStatus`
    * per uncovered file (pre-sizes manifests). */
  private def committedBytes(f: FileSystem, zone: String, s: Snapshot): Long =
    s.files.map { rel =>
      s.sizes.get(rel).map(_._1).getOrElse(
        f.getFileStatus(new Path(zone.stripSuffix("/") + "/" + rel)).getLen)
    }.sum

  private def newDir(root: Path, prefix: String): Path =
    new Path(root, prefix + UUID.randomUUID().toString.take(8))

  /** The data files one commit attempt wrote under fresh `dirs`:
    * zone-relative names with their (bytes, mtimeMillis) and typed stats. */
  private final case class Staged(dirs: Seq[Path], info: Seq[(String, (Long, Long))],
                                  colStats: Map[String, Map[String, ColStat]]) {
    def files: Seq[String] = info.map(_._1)
    /** The staged files as the whole zone: what a replace or a
      * compaction of `head` publishes, no key file pending. */
    def asZone(head: Snapshot, meta: Map[String, String]): Snapshot =
      Snapshot(head.gen, head.format, files, meta, colStats, sizes = info.toMap)
  }

  /** What one write task of [[stage]] reported: its file (zone-relative
    * name, bytes, mtime; None when it wrote none), that file's stats from
    * its own footer (None when the footer cannot give them,
    * [[footerFileStats]]), and for a keyed write every non-null key it
    * saw (at most [[MaxPendingKeys]] + 1: `seen` counts them) with its
    * count of null keys. The driver drops `keys` once the job's running
    * total of `seen` passes the bound ([[stageTasks]]). */
  private final case class TaskReport(file: Option[(String, (Long, Long))],
                                      stats: Option[Map[String, ColStat]],
                                      keys: Array[Any], seen: Int, nullKeys: Long)

  /** Write `out` (physical column names) as `format` into a fresh `d-`
    * dir of `zone` in ONE Spark job ([[org.apache.spark.sql.graft.WriteBridge]])
    * and stage exactly the files its tasks report, with the stats of
    * `statsCols` that each task read from the footer of the file it just
    * wrote — no `_temporary` dir, rename or listing, and no driver footer
    * read. When some footer cannot give them (a float, double, decimal or
    * timestamp stats column; another format) the driver runs
    * [[aggregateFileStats]] over the reported files instead. A failed
    * write removes the dir. */
  private def stage(spark: SparkSession, zone: String, format: String, out: DataFrame,
                    statsCols: Seq[String], colmap: Map[String, String] = Map.empty): Staged =
    stageTasks(spark, zone, format, out, statsCols, colmap, None)._1

  /** [[stage]], and with `keyed` = (physical key column, upsert flag
    * column) the merge-on-read batch write: each task reports every key
    * of its partition and, given a flag (a boolean column, last in `out`
    * and never written), writes only the rows it flags. Returns the
    * reports too; once their keys pass [[MaxPendingKeys]] in all, the
    * driver keeps no more of them (the batch folds), only their counts. */
  private def stageTasks(spark: SparkSession, zone: String, format: String, out: DataFrame,
                         statsCols: Seq[String], colmap: Map[String, String],
                         keyed: Option[(String, Option[String])]): (Staged, Seq[TaskReport]) = {
    val f = fs(spark, zone)
    val root = f.makeQualified(new Path(zone))
    val dir = newDir(root, "d-")
    val flag = keyed.flatMap(_._2)
    val written = org.apache.spark.sql.types.StructType(
      if (flag.isEmpty) out.schema.fields else out.schema.fields.init)
    try {
      val got = scala.collection.mutable.ArrayBuffer.empty[TaskReport]
      var seen = 0L
      org.apache.spark.sql.graft.WriteBridge.write(out, format, written, dir.toString)(
        new WriteTask(root.toString, dir.getName, format, written, statsCols, colmap,
          keyed.map { case (k, _) => (out.schema.fieldIndex(k), out.schema(k).dataType,
            if (flag.isEmpty) -1 else written.length) }),
        (_: Int, r: TaskReport) => {
          seen += r.seen
          got += (if (seen > MaxPendingKeys) r.copy(keys = Array.empty) else r)
        })
      val reports = got.toSeq
      val info = reports.flatMap(_.file).sortBy(_._1)
      val stats =
        if (statsCols.isEmpty || info.isEmpty) Map.empty[String, Map[String, ColStat]]
        else if (reports.forall(r => r.file.isEmpty || r.stats.nonEmpty))
          reports.flatMap(r => r.file.map(_._1).zip(r.stats)).toMap
        else aggregateFileStats(spark, root, info, format, statsCols, colmap, Some(written))
      (Staged(Seq(dir), info, stats), reports)
    } catch { case e: Throwable => f.delete(dir, true); throw e }
  }

  /** The task body of [[stageTasks]]: write the partition's rows — with
    * `keyed` = (key ordinal, key type, flag ordinal or -1) keeping their
    * keys and writing only the flagged ones without the flag — then close
    * the file and read its stats from its footer. A class, not a lambda:
    * a task deserializes a Scala lambda through its defining class's
    * `$deserializeLambda$`, whose reflective lookup makes the JVM cache
    * every method of `TxLog` (~800) for the rest of the run. */
  private final class WriteTask(root: String, dirName: String, format: String,
                                written: org.apache.spark.sql.types.StructType,
                                statsCols: Seq[String], colmap: Map[String, String],
                                keyed: Option[(Int, org.apache.spark.sql.types.DataType, Int)])
      extends ((Iterator[org.apache.spark.sql.catalyst.InternalRow],
                org.apache.spark.sql.graft.WriteBridge.TaskFile) => TaskReport) with Serializable {
    def apply(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
              file: org.apache.spark.sql.graft.WriteBridge.TaskFile): TaskReport = {
      val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
      var nullKeys = 0L
      keyed match {
        case None => rows.foreach(file.write)
        case Some((keyAt, keyType, flagAt)) =>
          val data = org.apache.spark.sql.catalyst.ProjectingInternalRow(written,
            0 until written.length)
          rows.foreach { r =>
            if (r.isNullAt(keyAt)) nullKeys += 1
            else if (keys.length <= MaxPendingKeys) keys += (r.get(keyAt, keyType) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
              case k => k
            })
            if (flagAt < 0) file.write(r)
            else if (r.getBoolean(flagAt)) { data.project(r); file.write(data) }
          }
      }
      val rel = file.close().map(st =>
        (dirName + "/" + st.getPath.getName, (st.getLen, st.getModificationTime)))
      val stats = rel.flatMap(e =>
        if (statsCols.isEmpty) Some(Map.empty[String, ColStat])
        else footerFileStats(file.hadoopConf, new Path(root), Seq(e), written, format,
          statsCols, colmap).map(_(e._1)))
      TaskReport(rel, stats, keys.toArray, keys.length, nullKeys)
    }
  }

  /** The files already written under `dir` that `keep` accepts, with the
    * stats of `statsCols` ([[collectFileStats]]); a missing or empty dir
    * stages nothing. Only [[commitRewrite]] stages this way: Spark's DSv2
    * writer wrote its files, so the committer lists them. */
  private def listStaged(spark: SparkSession, zone: String, dir: Path,
                         written: Option[org.apache.spark.sql.types.StructType],
                         format: String, statsCols: Seq[String],
                         colmap: Map[String, String] = Map.empty,
                         keep: String => Boolean = _ => true): Staged = {
    val f = fs(spark, zone)
    val root = f.makeQualified(new Path(zone))
    val info = (try listRelInfo(f, root, dir)
                catch { case _: java.io.FileNotFoundException => Nil }).filter(e => keep(e._1))
    Staged(Seq(dir), info,
      if (info.isEmpty) Map.empty
      else collectFileStats(spark, root, info, written, format, statsCols, colmap))
  }

  /** `head` with the files in `removed` dropped and the `staged` files
    * added at data generation `dataGen`; every other field carries over.
    * distinct: after a fork-check abort a successor may already carry the
    * staged files forward, and listing them twice would read their rows
    * twice (data files are uuid-named, so distinct never merges two). */
  private def nextState(head: Snapshot, removed: Set[String], staged: Staged,
                        dataGen: Long): Snapshot = {
    def kept[V](m: Map[String, V]) = m.filter { case (p, _) => !removed(p) }
    head.copy(
      files = (head.files.filterNot(removed) ++ staged.files).distinct.sorted,
      colStats = kept(head.colStats) ++ staged.colStats,
      sizes = kept(head.sizes) ++ staged.info,
      dataGens = kept(head.dataGens) ++ staged.files.map(_ -> dataGen))
  }

  /** How a writer meets a lost publish race ([[commitLoop]]). */
  private sealed trait OnLoss[+R]
  /** The staged files hold on any head: publish them on the new one. */
  private case object Rebase extends OnLoss[Nothing]
  /** The attempt read its head: stage again from the new one. */
  private case object Recompute extends OnLoss[Nothing]
  /** The staged files hold only on the head they read: remove them and
    * end the commit with `lost()`. */
  private final case class Pinned[+R](lost: () => R) extends OnLoss[R]

  /** What one commit attempt decided against the head it was handed. */
  private sealed trait Step[+R]
  /** End the commit without publishing (a no-op, an abort, a handover);
    * None reports the batch as already committed. */
  private final case class Finish[+R](result: Option[R]) extends Step[R]
  /** Publish `next` at the head's generation + 1; its new files sit under
    * `staged`, and `result` answers from the published snapshot. */
  private final case class Publish[+R](next: Snapshot, staged: Seq[Path],
                                       result: Snapshot => R) extends Step[R]

  /** Counted lost races after which a commit gives up. */
  private val MaxLostRaces = 5

  /** THE optimistic commit every writer runs: hand `attempt` a head
    * (first `head0`, the one the writer staged against; after a lost
    * race the `latest` head, resolved once), publish what it proposes,
    * and meet a lost race by `onLoss` after a `min(200, 10·losses)` ms
    * back-off — the winner may still be writing its manifest, invisible
    * to `latest`. Every loss of a recomputing writer counts (each retry
    * reruns its Spark jobs); a rebasing writer's loss counts only when no
    * rival advanced the head (Delta's optimistic-transaction rule), so a
    * busy zone delays it but never fails it. The [[MaxLostRaces]]-th
    * counted loss fails loudly. `prePublishHook` runs once per staging,
    * after the files are written and before their first publish.
    *
    * Exactly-once: with `batchId` the mark is re-checked on every head,
    * so a rival that committed the batch makes this one skip (None), and
    * it is stamped into the publish, so data and mark flip together.
    *
    * Staged dirs no published generation references are removed on every
    * way out but a win: a skip, a [[Finish]], a pinned loss, a
    * recomputing loss, exhaustion, or a throw before `publish` (from the
    * attempt or the hook). A throw out of `publish` leaves them: its
    * manifest may already be complete and visible, and then it references
    * them (and carries the batch mark a replay would skip on). */
  private def commitLoop[R](spark: SparkSession, zone: String, op: String, head0: Snapshot,
                            onLoss: OnLoss[R], batchId: Option[Long] = None,
                            prePublishHook: () => Unit = () => ())(
                            attempt: Snapshot => Step[R]): Option[R] = {
    val f = fs(spark, zone)
    var staged = Seq.empty[Path]
    def unstage(): Unit = { staged.foreach(f.delete(_, true)); staged = Nil }
    @annotation.tailrec
    def run(head: Snapshot, losses: Int, counted: Int): Option[R] =
      (if (committedAt(head, batchId)) Finish(None) else attempt(head)) match {
        case Finish(r) => unstage(); r
        case Publish(next, dirs, result) =>
          staged = dirs
          if (losses == 0 || onLoss == Recompute) prePublishHook()
          val mark = batchId.map(b => "batchId" -> b.toString)
          staged = Nil
          publish(spark, zone, next.copy(gen = head.gen + 1, meta = next.meta ++ mark),
            Some(head)) match {
            case Some(s) => Some(result(s))
            case None =>
              staged = dirs
              onLoss match {
                case Pinned(lost) => unstage(); Some(lost())
                case _ =>
                  if (onLoss == Recompute) unstage()
                  val tries = losses + 1
                  Thread.sleep(math.min(200L, 10L * tries))
                  val nextHead = latest(spark, zone).getOrElse(head)
                  val total = counted + (if (onLoss == Recompute || nextHead.gen <= head.gen) 1 else 0)
                  // the catch below removes what is still staged
                  if (total == MaxLostRaces) throw new IllegalStateException(
                    s"txlog $op on $zone lost the publish race on $tries attempts " +
                      s"($total of them counted); giving up")
                  run(nextHead, tries, total)
              }
          }
      }
    try run(head0, 0, 0)
    catch { case e: Throwable => unstage(); throw e }
  }

  /** [[commitLoop]] for a writer without a batch mark: nothing skips it. */
  private def commit[R](spark: SparkSession, zone: String, op: String, head0: Snapshot,
                        onLoss: OnLoss[R], prePublishHook: () => Unit = () => ())(
                        attempt: Snapshot => Step[R]): R =
    commitLoop(spark, zone, op, head0, onLoss, None, prePublishHook)(attempt).get

  /** Bring an EXISTING plain directory zone under the log: gen 0 is the
    * zone's current recursive data-file listing. No-op if a log exists. */
  def init(spark: SparkSession, zone: String, format: String = "parquet"): Snapshot =
    latest(spark, zone).getOrElse {
      val root = fs(spark, zone).makeQualified(new Path(zone))
      val f = fs(spark, zone)
      val info =
        if (!f.exists(root)) Seq.empty
        else listRelInfo(f, root, root).filterNot(_._1.startsWith(LogDir))
      publish(spark, zone, Snapshot(0L, format, info.map(_._1), Map("op" -> "init"),
        sizes = info.toMap), base = None).getOrElse(
        // lost the init race: someone else published first — read them
        latest(spark, zone).getOrElse(
          sys.error(s"txlog init of $zone lost the publish race")))
    }

  /** CREATE an empty zone: one commit carrying the declared `schema`
    * (and the stats-column choice) with ZERO data files — the lake form
    * of `CREATE TABLE`, and what [[graft.sources.GraftCatalog]] runs for
    * the SQL statement. Unlike [[init]] (which adopts a directory's
    * existing files) or a replace of an empty frame (which writes a
    * zero-row part file just to carry the schema), the schema here lives
    * purely in the log — the zone is immediately a readable generation,
    * and the first append is an ordinary evolution-checked write.
    * Refuses a zone that already has a log: create is not an overwrite. */
  def create(spark: SparkSession, zone: String,
             schema: org.apache.spark.sql.types.StructType,
             statsCols: Seq[String] = Nil,
             format: String = "parquet"): Snapshot = {
    require(latest(spark, zone).isEmpty,
      s"txlog create: $zone already has a transaction log")
    val meta = Map("op" -> "create", "schema" -> schema.json) ++
      (if (statsCols.nonEmpty) Map("stats.cols" -> statsCols.mkString(","))
       else Map.empty)
    publish(spark, zone, Snapshot(0L, format, Nil, meta), base = None).getOrElse(sys.error(
      s"txlog create of $zone lost the publish race — a rival created it first"))
  }

  /** Publish a COPY-ON-WRITE group rewrite: drop `removed` (zone-relative
    * file names) and adopt every file already staged under `dataDir` as
    * ONE new generation — the commit half of SQL UPDATE / MERGE / rewrite
    * DELETE ([[graft.sources.TxLogTable]]'s row-level operations), where
    * Spark computes the touched files' full replacement rows and the
    * executors have written them. Write amplification is O(touched):
    * untouched files carry over with their stats; new files get stats
    * collected under the zone's tracked columns before the publish.
    *
    * Concurrency is PINNED, not last-writer-wins: the replacement rows
    * were computed from the snapshot at `expectedGen`, so a head that
    * moved mid-statement makes them stale — the staged files are deleted
    * and [[SnapshotMovedException]] thrown (the caller's statement
    * fails loudly; rerunning recomputes from the new head). The same
    * lost-update reasoning as [[replaceCas]]. */
  def commitRewrite(spark: SparkSession, zone: String, expectedGen: Long,
                    removed: Seq[String], dataDir: String,
                    op: String,
                    onlyFiles: Option[Set[String]] = None): Snapshot = {
    val dir = new Path(dataDir)
    def moved(found: Long): Nothing =
      throw new SnapshotMovedException(zone, expectedGen, found)
    val head = latest(spark, zone).getOrElse(sys.error(
      s"txlog commitRewrite: $zone has no transaction log"))
    if (head.gen != expectedGen) { fs(spark, zone).delete(dir, true); moved(head.gen) }
    // `onlyFiles` (zone-relative) is the writers' own commit report: a
    // zombie/speculative task finishing its file AFTER the caller's
    // orphan sweep must not get that file adopted by a directory listing.
    // A rewrite can legitimately produce ZERO replacement rows (a DELETE
    // matching every row of the touched files writes nothing — lazy
    // writers create no files, possibly not even the dir).
    val files = listStaged(spark, zone, dir, physicalSchema(head), head.format,
      effectiveStatsCols(Nil, head.meta), colMap(head.meta),
      keep = p => onlyFiles.forall(_.contains(p)))
    // a rival landing between the check and the claim aborts the statement
    commit[Snapshot](spark, zone, op, head,
      Pinned(() => moved(latest(spark, zone).map(_.gen).getOrElse(-1L)))) { h =>
      // the replacement rows were read through the pending deletes of
      // `h`: stamped with its generation, only key files committed after
      // it can mask them
      Publish(nextState(h, removed.toSet, files, h.gen).copy(meta = h.meta ++ Map("op" -> op)),
        files.dirs, identity)
    }
  }

  /** META-ONLY commit: publish generation head+1 with the SAME file set
    * and `updatesFor(head)` folded into the meta — the primitive behind
    * DDL that changes what the log KNOWS without touching data (ALTER
    * TABLE ADD COLUMNS' schema evolution, stats-column re-targeting).
    * O(1) in table size: the delta commit records zero file actions,
    * only the new meta map. `updatesFor` runs against each attempt's
    * head, so validation always sees the state it will be applied to. */
  def commitMeta(spark: SparkSession, zone: String, op: String,
                 updatesFor: Snapshot => Map[String, String],
                 /** optional per-attempt stats transform (RENAME/DROP
                   * COLUMN re-key the logical-named stat entries in the
                   * same commit — still zero file actions) */
                 statsFor: Snapshot => Option[Map[String, Map[String, ColStat]]] =
                   _ => None): Snapshot = {
    val head0 = latest(spark, zone).getOrElse(sys.error(
      s"txlog commitMeta($op): $zone has no transaction log"))
    commit[Snapshot](spark, zone, op, head0, Rebase) { head =>
      Publish(head.copy(meta = head.meta ++ updatesFor(head) ++ Map("op" -> op),
        colStats = statsFor(head).getOrElse(head.colStats)), Nil, identity)
    }
  }

  /** ALTER TABLE ADD COLUMNS: append `fields` to the tracked schema in
    * one meta-only commit — no data file is touched; files written
    * before the evolution surface the new columns as null through the
    * log-schema read ([[loadFiles]]), exactly like a column added by an
    * evolved append. Added columns must be NULLABLE (old files cannot
    * retroactively carry values) and must not collide case-insensitively
    * (Spark's resolution). Renames/drops ride the column-mapping layer
    * ([[renameColumn]]/[[dropColumn]] — meta-only, name-mapped); a
    * RETYPE is still a rewrite ([[replaceCas]]: read, retype, replace),
    * because no mapping can change what committed bytes decode to. */
  def addColumns(spark: SparkSession, zone: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Snapshot = {
    require(fields.nonEmpty, "txlog addColumns: no columns given")
    // duplicates within ONE call would commit a schema with duplicate
    // columns — corrupt until manually repaired; the per-field check
    // below only sees the pre-call schema
    require(fields.map(_.name.toLowerCase(java.util.Locale.ROOT))
        .distinct.size == fields.size,
      s"txlog addColumns: duplicate column names in ${fields.map(_.name)}")
    commitMeta(spark, zone, "add-columns", head => {
      val current = zoneSchema(head).getOrElse(
        if (head.files.nonEmpty) readSnapshot(spark, zone, head).schema
        else sys.error(s"txlog addColumns: $zone tracks no schema and has " +
          "no files to infer one from"))
      val existing = current.fieldNames
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      fields.foreach { fl =>
        require(fl.nullable, s"txlog addColumns: ${fl.name} must be nullable " +
          "— files written before the evolution surface null")
        require(!existing(fl.name.toLowerCase(java.util.Locale.ROOT)),
          s"txlog addColumns: column ${fl.name} already exists")
      }
      // a name RETIRED by a drop/rename may be re-added, but its bytes
      // must not resurface from old files: map the new logical name to a
      // fresh physical name (generation-stamped — unique, deterministic).
      // Membership is CASE-INSENSITIVE, matching Spark's default parquet
      // field resolution: dropping `v` then re-adding `V` would otherwise
      // bypass the tombstone and read the dropped bytes.
      val used = usedPhysical(head.meta)
      val cmap = colMap(head.meta)
      val takenLc = (used ++ cmap.values ++ current.fieldNames)
        .map(_.toLowerCase(java.util.Locale.ROOT))
      val freshEntries = fields.collect {
        case fl if takenLc(fl.name.toLowerCase(java.util.Locale.ROOT)) =>
          fl.name -> s"${fl.name}__g${head.gen + 1}"
      }
      val mapMeta =
        if (freshEntries.isEmpty) Map.empty[String, String]
        else Map("colmap" -> encodeColMap(cmap ++ freshEntries))
      Map("schema" ->
        org.apache.spark.sql.types.StructType(current.fields ++ fields).json) ++
        mapMeta
    })
  }

  /** ALTER TABLE RENAME COLUMN, without touching a single data file: the
    * column's bytes keep their on-disk (physical) name; the commit moves
    * only the LOGICAL name — new schema, a `colmap` entry pointing the
    * new name at the old physical, a tombstone so the freed name can
    * never alias old bytes, and the logical-keyed stat entries re-keyed
    * in place. Reads at any older generation use that generation's own
    * mapping, so time travel across the rename shows each era's names.
    * Top-level fields only. */
  def renameColumn(spark: SparkSession, zone: String,
                   from: String, to: String): Snapshot = {
    require(from != to, s"txlog renameColumn: '$from' -> '$to' is a no-op")
    def updates(head: Snapshot): Map[String, String] = {
      val current = zoneSchema(head).getOrElse(sys.error(
        s"txlog renameColumn: $zone tracks no schema"))
      require(current.fieldNames.contains(from),
        s"txlog renameColumn: no column '$from' in ${current.fieldNames.mkString(", ")}")
      require(!current.fieldNames.exists(n => n != from &&
          n.equalsIgnoreCase(to)),
        s"txlog renameColumn: column '$to' already exists")
      val cmap = colMap(head.meta)
      val phys = cmap.getOrElse(from, from)
      val nextMap = (cmap - from) ++
        (if (to == phys) Map.empty[String, String] else Map(to -> phys))
      // tombstone the freed LOGICAL name iff it is a physical name some
      // file actually carries (phys == from when never mapped before)
      val nextUsed = usedPhysical(head.meta) ++
        (if (phys == from) Set(from) else Set.empty[String])
      val newSchema = org.apache.spark.sql.types.StructType(
        current.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      val statsColsMeta = head.meta.get("stats.cols") match {
        case Some(cs) if cs.split(",").contains(from) =>
          Map("stats.cols" -> cs.split(",").map(c =>
            if (c == from) to else c).mkString(","))
        case _ => Map.empty[String, String]
      }
      // the pending key files hold values, not names: they follow the key
      val mergeKeyMeta =
        if (head.meta.get(MergeKeyMeta).contains(from)) Map(MergeKeyMeta -> to)
        else Map.empty[String, String]
      Map("schema" -> newSchema.json,
        "colmap" -> encodeColMap(nextMap),
        "colmap.used" -> nextUsed.toSeq.sorted.map(encName).mkString(",")) ++
        statsColsMeta ++ mergeKeyMeta
    }
    commitMeta(spark, zone, "rename-column", updates,
      // stats are LOGICAL-keyed: re-key this column's entries so pruning
      // keeps working under the new name, same commit
      statsFor = head => Some(head.colStats.map { case (file, perCol) =>
        file -> perCol.map { case (c, st) => (if (c == from) to else c) -> st }
      }))
  }

  /** ALTER TABLE DROP COLUMN, meta-only: the schema shrinks, the bytes
    * stay in the files (unread — the log schema is what every read
    * requests), the physical name is tombstoned so a later re-add can
    * never resurrect them, and the column's stat entries drop. The LAST
    * column cannot be dropped. */
  def dropColumn(spark: SparkSession, zone: String, name: String): Snapshot = {
    def updates(head: Snapshot): Map[String, String] = {
      val current = zoneSchema(head).getOrElse(sys.error(
        s"txlog dropColumn: $zone tracks no schema"))
      require(current.fieldNames.contains(name),
        s"txlog dropColumn: no column '$name' in ${current.fieldNames.mkString(", ")}")
      require(current.fields.length > 1,
        s"txlog dropColumn: cannot drop the last column '$name'")
      val isMergeKey = head.meta.get(MergeKeyMeta).contains(name)
      require(!isMergeKey || !head.pendingDeletes,
        s"txlog dropColumn: '$name' is the merge key of pending key deletes — " +
          "fold them with TxLog.compact first")
      val cmap = colMap(head.meta)
      val phys = cmap.getOrElse(name, name)
      val nextUsed = usedPhysical(head.meta) + phys
      val newSchema = org.apache.spark.sql.types.StructType(
        current.fields.filterNot(_.name == name))
      val statsColsMeta = head.meta.get("stats.cols") match {
        case Some(cs) if cs.split(",").contains(name) =>
          Map("stats.cols" -> cs.split(",").filterNot(_ == name).mkString(","))
        case _ => Map.empty[String, String]
      }
      Map("schema" -> newSchema.json,
        "colmap" -> encodeColMap(cmap - name),
        "colmap.used" -> nextUsed.toSeq.sorted.map(encName).mkString(",")) ++
        statsColsMeta ++
        (if (isMergeKey) Map(MergeKeyMeta -> "") else Map.empty[String, String])
    }
    commitMeta(spark, zone, "drop-column", updates,
      statsFor = head => Some(head.colStats.map { case (file, perCol) =>
        file -> (perCol - name) }))
  }

  /** Is `from -> to` a widening every committed byte decodes into
    * LOSSLESSLY through the parquet readers' type promotion (verified on
    * this Spark: int family up-casts, int family → double, float →
    * double, decimal precision/scale-up keeping integer digits)? The
    * Delta type-widening feature's safe set; long → double is EXCLUDED
    * (53-bit mantissa truncates large longs). */
  private[graft] def isSafeWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if f == t => false
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(t) > intRank(f)
      case (f, DoubleType) if intRank.contains(f) && f != LongType => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.precision - t.scale >= f.precision - f.scale && t.scale >= f.scale
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE for SAFE WIDENINGS, meta-only (the
    * Delta type-widening precedent): the tracked schema's field retypes;
    * not one data file is touched — old files' narrower values promote
    * losslessly through the parquet readers' type promotion at scan
    * time, new writes land in the widened type, and time travel shows
    * each era's type (every generation keeps its own schema meta).
    * Committed per-file stats stay valid verbatim: a min/max of the old
    * values bounds the same values under the wider type, and "num"-kind
    * pruning compares as doubles either way. Narrowing or incompatible
    * retypes refuse loudly — they change what committed bytes decode to,
    * which only a rewrite ([[replaceCas]]) can do. Composes with the
    * column-mapping layer: the physical name (and therefore the files'
    * bytes) is untouched, so a widen after a rename keeps reading
    * through the same mapping. */
  def widenColumn(spark: SparkSession, zone: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Snapshot =
    commitMeta(spark, zone, "widen-column", head => {
      val current = zoneSchema(head).getOrElse(sys.error(
        s"txlog widenColumn: $zone tracks no schema"))
      val field = current.fields.find(_.name == name).getOrElse(sys.error(
        s"txlog widenColumn: no column '$name' in ${current.fieldNames.mkString(", ")}"))
      require(isSafeWidening(field.dataType, to),
        s"txlog widenColumn: ${field.dataType.simpleString} -> " +
          s"${to.simpleString} is not a safe widening (safe: integer " +
          "up-casts, int->double, float->double, decimal precision/scale-up " +
          "keeping integer digits) — a narrowing/incompatible retype is a " +
          "rewrite (replaceCas / INSERT OVERWRITE with the new types)")
      Map("schema" -> org.apache.spark.sql.types.StructType(
        current.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f)).json)
    })

  /** Read the zone at its newest complete snapshot. A zone without a log
    * is read as a plain directory (migration path). */
  def read(spark: SparkSession, zone: String): DataFrame =
    latest(spark, zone) match {
      case Some(s) => readSnapshot(spark, zone, s)
      case None    => graft.sources.Tables.load(spark, zone)
    }

  /** Read a SPECIFIC snapshot — stable under concurrent publishes, valid
    * until `vacuum` retention passes it. Pending key deletes are applied
    * ([[loadFiles]]). */
  def readSnapshot(spark: SparkSession, zone: String, s: Snapshot): DataFrame =
    if (s.files.isEmpty) spark.emptyDataFrame
    else loadFiles(spark, zone, s, s.files)

  // ---- schema tracking / evolution -----------------------------------------

  /** The zone's committed schema, if the log tracks one (the `schema`
    * meta key, written by every [[append]]/[[replace]] since schema
    * tracking landed; zones last written before that read by per-file
    * inference, exactly as before). */
  def zoneSchema(s: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    s.meta.get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  // ---- column mapping (RENAME/DROP without rewriting data) ------------------

  /** Column mapping, the Delta/Iceberg name-mapping idea in its simplest
    * form: data files keep the column name a field had when it was FIRST
    * written (its PHYSICAL name, immutable for the file's life); the
    * manifest's `colmap` meta records `logical -> physical` for every
    * field whose current (logical) name differs. RENAME COLUMN is then a
    * meta-only commit (the physical name stays; reads translate), DROP
    * is a schema shrink, and a column RE-ADDED under a dropped/renamed
    * name gets a FRESH physical name (`colmap.used` tombstones every
    * physical name ever retired) so old files' bytes can never resurface
    * under the new column. Rewrite-everything commits (replace, compact,
    * OPTIMIZE) write logical names and RESET the mapping — maintenance
    * normalizes the physical layout for free. Top-level fields only
    * (nested renames need per-file ID mapping — out of scope). */
  private[graft] def colMap(meta: Map[String, String]): Map[String, String] =
    meta.get("colmap").filter(_.nonEmpty).map(_.split(",").iterator.map { p =>
      val i = p.indexOf(':')
      (decName(p.substring(0, i)), decName(p.substring(i + 1)))
    }.toMap).getOrElse(Map.empty)

  private[graft] def encodeColMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (l, p) => encName(l) + ":" + encName(p) }
      .mkString(",")

  /** Physical names no future column may claim: every physical name a
    * drop or rename retired from its logical slot. */
  private[graft] def usedPhysical(meta: Map[String, String]): Set[String] =
    meta.get("colmap.used").filter(_.nonEmpty)
      .map(_.split(",").iterator.map(decName).toSet).getOrElse(Set.empty)

  private def encName(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def decName(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** The snapshot's schema with every field under its PHYSICAL name —
    * what the per-file reader must request. */
  private[graft] def physicalSchema(s: Snapshot)
      : Option[org.apache.spark.sql.types.StructType] = {
    val m = colMap(s.meta)
    zoneSchema(s).map { sch =>
      if (m.isEmpty) sch
      else org.apache.spark.sql.types.StructType(
        sch.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))
    }
  }

  /** Rename an outgoing frame's columns logical -> physical before the
    * file write (appends/merges must keep each column's on-disk name
    * stable across renames so ONE read schema serves every file). */
  private def toPhysical(df: DataFrame, colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty || !df.columns.exists(colmap.contains)) df
    else df.select(df.columns.map(c =>
      org.apache.spark.sql.functions.col(c)
        .as(colmap.getOrElse(c, c))).toIndexedSeq: _*)

  private val ColMapMetaKeys = Seq("colmap", "colmap.used")

  /** Load the zone-relative data files `relFiles` of snapshot `s` under
    * its tracked schema (Delta-style: the schema lives in the LOG, so an
    * evolved zone never pays per-file footer merging — `mergeSchema` at
    * 100 TB reads every footer on every plan; this reads none). Files
    * written before a column was added simply surface it as null. Falls
    * back to source inference for pre-tracking zones. Under a column
    * mapping the files are requested by PHYSICAL name and the frame
    * surfaces logical names (a pure positional rename — zero cost in the
    * plan).
    *
    * This is the one place DataFrame readers apply merge-on-read
    * deletes: a row of file F is live iff no pending key file with a
    * generation above F's data generation holds its key. The pending keys
    * are read on the driver ([[pendingKeyGens]], cached per immutable key
    * file, no Spark job) and tested as one hash-set membership per key
    * generation ([[keyIn]]), so the data is never shuffled. With no
    * pending key file the plan is the plain scan. */
  private[graft] def loadFiles(spark: SparkSession, zone: String, s: Snapshot,
                               relFiles: Seq[String]): DataFrame = {
    val r = spark.read.format(s.format)
    val raw = physicalSchema(s).fold(r)(r.schema)
      .load(relFiles.map(p => zone.stripSuffix("/") + "/" + p): _*)
    val logical = zoneSchema(s)
    val df =
      if (logical.exists(_.fieldNames.toSeq != raw.columns.toSeq))
        raw.toDF(logical.get.fieldNames.toIndexedSeq: _*)
      else raw
    val masks = maskingKeys(s, relFiles)
    if (masks.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, lit}
      val fileGens = relFiles.map(s.dataGen).distinct
      // files of one data generation (the usual read: base files, or one
      // batch) need no per-row lookup
      val dataGen =
        if (fileGens.size == 1) lit(fileGens.head)
        else fileGen(relFiles.map(f => f -> s.dataGen(f)))
      // one membership set per key generation: a row is masked iff its
      // key is in the set of a generation above its file's
      val masked = pendingKeyGens(spark, zone, s, masks).groupBy(_._2).toSeq.map {
        case (g, kg) => (dataGen < lit(g)) && keyIn(df, mergeKeyOf(s), kg.keys)
      }
      // a null key is in no set
      if (masked.isEmpty) df else df.filter(coalesce(!masked.reduce(_ || _), lit(true)))
    }
  }

  /** `df`'s `key` is one of the Catalyst `keys` (false for a null key).
    * The set rides in the task closure of a UDF, not in the plan as
    * literals: an `InSet` renders every key, sorted, each time the plan
    * is described — a read of a 400k-row zone with 200k pending keys took
    * 4.3-5.0 s that way and 0.9-1.1 s this way (4-vCPU VM). */
  private def keyIn(df: DataFrame, key: String, keys: Iterable[Any]): org.apache.spark.sql.Column = {
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(df.schema(key).dataType)
    val set = keys.iterator.map(toScala).toSet
    org.apache.spark.sql.functions.udf(new org.apache.spark.sql.api.java.UDF1[Any, Boolean] {
      def call(k: Any): Boolean = k != null && set.contains(k)
    }, org.apache.spark.sql.types.BooleanType)(df.col(key))
  }

  /** Most keys a zone holds in pending key files, and so most keys one
    * merge-on-read batch writes: every read holds them on the driver and
    * ships them to each task as a hash set ([[keyIn]]). At this bound a
    * read of a 400k-row zone took 0.29-0.36 s for one key and 0.41-0.50 s
    * for a full count, against 0.18-0.21 s and 0.31-0.39 s with 1k
    * pending keys (4-vCPU VM). A batch that would go past it folds
    * instead ([[mergeOnReadWrite]]), so the writers keep every generation
    * within it. */
  private[graft] val MaxPendingKeys = 50000

  /** Key types the key files' driver codec ([[KeyFileCache]]) reads and
    * writes; a merge on any other key type always folds ([[mergeImpl]]). */
  private def driverKeyType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false
    }
  }

  /** The batch's keys (`keys`: one column) in Catalyst form, from ONE
    * Spark job over the batch's own partitions — or None when it holds
    * more than [[MaxPendingKeys]]: each task returns at most one key past
    * the bound and the driver stops keeping them once past it. Only a
    * streaming batch whose zone is already due for a fold runs it; a
    * merge-on-read write has its tasks report the keys ([[stageTasks]]). */
  private def collectBatchKeys(keys: DataFrame): Option[Array[Any]] = {
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(keys.schema.head.dataType)
    val limit = MaxPendingKeys + 1
    val kept = scala.collection.mutable.ArrayBuffer.empty[Any]
    var seen = 0L
    keys.sparkSession.sparkContext.runJob(
      keys.rdd.mapPartitions(_.take(limit).map(_.get(0))),
      (it: Iterator[Any]) => it.toArray,
      (_: Int, part: Array[Any]) => {
        seen += part.length
        if (seen <= MaxPendingKeys) kept ++= part
      })
    if (seen > MaxPendingKeys) None else Some(kept.iterator.map(toCatalyst).toArray)
  }

  /** Non-null Catalyst keys of a [[driverKeyType]], in key order. */
  private def sortKeys(keys: Array[Any]): Array[Any] =
    keys.sortWith { (a, b) => (a, b) match {
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y) < 0
      case (x, y) => x.asInstanceOf[Number].longValue < y.asInstanceOf[Number].longValue
    } }

  /** Write the batch's `sorted` keys ([[sortKeys]]) of the merge key's
    * `keyType` as ONE key file under `keyDir`, on the driver, returning
    * its zone-relative path and key stats; the file then sits in
    * [[KeyFileCache]] for the reads that follow. */
  private def writeKeyFile(spark: SparkSession, zone: String, keyDir: Path,
                           keyType: org.apache.spark.sql.types.DataType,
                           sorted: Array[Any]): (String, ColStat) = {
    import org.apache.spark.sql.types.StringType
    val rel = keyDir.getName + "/part-00000-" + UUID.randomUUID() + "-c000.parquet"
    val path = new Path(zone.stripSuffix("/") + "/" + rel)
    KeyFileCache.write(spark.sparkContext.hadoopConfiguration, path, keyType, sorted)
    // rendered like the data files' footer stats
    val render: Any => String =
      if (keyType == StringType) _.toString
      else v => java.lang.Double.toString(v.asInstanceOf[Number].longValue.toDouble)
    rel -> ColStat(if (keyType == StringType) "str" else "num", sorted.length.toLong, 0L,
      sorted.headOption.map(render), sorted.lastOption.map(render))
  }

  /** Each key of the key files `masks` with the highest generation among
    * the files holding it, in Catalyst form, read on the driver — no
    * Spark job. The writers keep a zone within [[MaxPendingKeys]] and
    * [[driverKeyType]]; a generation outside them (a hand-made manifest)
    * is refused, naming the fold that clears it. */
  private[graft] def pendingKeyGens(spark: SparkSession, zone: String, s: Snapshot,
                                    masks: Map[String, KeyFile]): Map[Any, Long] = {
    val rows = masks.valuesIterator.map(_.stat.rows).sum
    val keyType = mergeKeyType(s)
    if (rows > MaxPendingKeys || !driverKeyType(keyType))
      throw new UnsupportedOperationException(
        s"txlog: $zone has $rows pending key deletes on a ${keyType.simpleString} key; " +
          s"readers apply at most $MaxPendingKeys integral or string keys — " +
          "fold them with TxLog.compact")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = scala.collection.mutable.HashMap.empty[Any, Long]
    masks.foreach { case (rel, kf) =>
      KeyFileCache.keys(conf, new Path(zone.stripSuffix("/") + "/" + rel), kf.stat.rows, keyType)
        .foreach(k => if (out.get(k).forall(_ < kf.gen)) out(k) = kf.gen)
    }
    out.toMap
  }

  private def mergeKeyType(s: Snapshot): org.apache.spark.sql.types.DataType = {
    val key = mergeKeyOf(s)
    zoneSchema(s).flatMap(_.fields.find(_.name == key)).map(_.dataType)
      .getOrElse(sys.error(s"txlog: merge key '$key' is not in the schema of " +
        s"generation ${s.gen} — fold the pending deletes with TxLog.compact"))
  }

  /** Key files' keys read and written on the driver with parquet-mr
    * ([[driverKeyType]]s only), kept in a small LRU holding at most
    * [[MaxPendingKeys]] keys — one zone's pending deletes: a key file is
    * immutable and uniquely named, so each is read once while its
    * deletes are pending, not once per read. */
  private object KeyFileCache {
    private val cache = new java.util.LinkedHashMap[String, Array[Any]](16, 0.75f, true)
    private var cached = 0L

    private def idOf(conf: org.apache.hadoop.conf.Configuration, path: Path,
                     keyType: org.apache.spark.sql.types.DataType) =
      s"${path.getFileSystem(conf).makeQualified(path)}|$keyType"

    private def remember(id: String, keys: Array[Any]): Unit = synchronized {
      if (cache.put(id, keys) == null) cached += keys.length
      val it = cache.entrySet().iterator()
      while (cached > MaxPendingKeys && it.hasNext) {
        val e = it.next()
        if (e.getKey != id) { cached -= e.getValue.length; it.remove() }
      }
    }

    /** Write `sorted` (non-null Catalyst keys of `keyType`) as a
      * one-column Parquet key file, and remember them. */
    def write(conf: org.apache.hadoop.conf.Configuration, path: Path,
              keyType: org.apache.spark.sql.types.DataType, sorted: Array[Any]): Unit = {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.io.api.Binary
      import org.apache.parquet.schema.MessageTypeParser
      import org.apache.spark.sql.types.{ByteType, LongType, ShortType, StringType}
      val field = keyType match {
        case LongType => s"required int64 $KeyFileCol"
        case StringType => s"required binary $KeyFileCol (STRING)"
        case ByteType => s"required int32 $KeyFileCol (INTEGER(8,true))"
        case ShortType => s"required int32 $KeyFileCol (INTEGER(16,true))"
        case _ => s"required int32 $KeyFileCol"
      }
      val schema = MessageTypeParser.parseMessageType(s"message spark_schema { $field; }")
      val groups = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter.builder(path).withConf(conf).withType(schema).build()
      try sorted.foreach { k =>
        val g = groups.newGroup()
        k match {
          case s: org.apache.spark.unsafe.types.UTF8String =>
            g.append(KeyFileCol, Binary.fromConstantByteArray(s.getBytes))
          case l: java.lang.Long => g.append(KeyFileCol, l.longValue)
          case n: Number => g.append(KeyFileCol, n.intValue)
        }
        w.write(g)
      } finally w.close()
      remember(idOf(conf, path, keyType), sorted)
    }

    /** The keys in Catalyst form of `keyType`, a [[driverKeyType]]. */
    def keys(conf: org.apache.hadoop.conf.Configuration, path: Path, rows: Long,
             keyType: org.apache.spark.sql.types.DataType): Array[Any] = {
      import org.apache.spark.sql.types.{ByteType, LongType, ShortType, StringType}
      val id = idOf(conf, path, keyType)
      synchronized { Option(cache.get(id)) }.filter(_.length == rows).getOrElse {
        val decode: Any => Any = keyType match {
          case LongType => v => v.asInstanceOf[Number].longValue
          case ShortType => v => v.asInstanceOf[Number].shortValue
          case ByteType => v => v.asInstanceOf[Number].byteValue
          case StringType => v => v
          case _ => v => v.asInstanceOf[Number].intValue
        }
        import org.apache.parquet.hadoop.ParquetReader
        import org.apache.parquet.hadoop.example.GroupReadSupport
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
        val reader = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf).build()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
        try {
          var g = reader.read()
          while (g != null) {
            buf += decode(g.getType.getType(0).asPrimitiveType.getPrimitiveTypeName match {
              case INT64 => g.getLong(0, 0)
              case BINARY => org.apache.spark.unsafe.types.UTF8String.fromBytes(g.getBinary(0, 0).getBytes)
              case _ => g.getInteger(0, 0)
            })
            g = reader.read()
          }
        } finally reader.close()
        val keys = buf.toArray
        remember(id, keys)
        keys
      }
    }
  }

  /** The pending key files that can mask a row of some file in
    * `relFiles`: those committed after the oldest file's data. */
  private[graft] def maskingKeys(s: Snapshot, relFiles: Seq[String]): Map[String, KeyFile] =
    if (s.keys.isEmpty || relFiles.isEmpty) Map.empty
    else {
      val oldest = relFiles.iterator.map(s.dataGen).min
      s.keys.filter(_._2.gen > oldest)
    }

  /** The logical merge key the pending key files hold. */
  private[graft] def mergeKeyOf(s: Snapshot): String =
    s.meta.get(MergeKeyMeta).filter(_.nonEmpty).getOrElse(sys.error(
      s"txlog: generation ${s.gen} has pending key files but no '$MergeKeyMeta' — " +
        "the manifest is corrupt"))

  /** A per-row generation looked up from the row's file: the map is keyed
    * by the file's last two path components (`d-<id>/<part file>`,
    * unique per write), since `input_file_name` is the absolute URI.
    * Files without an entry read as [[NoDataGen]]. */
  private def fileGen(gens: Seq[(String, Long)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, element_at, input_file_name, lit, substring_index, typedLit}
    def lastTwo(p: String) = p.split('/').takeRight(2).mkString("/")
    coalesce(element_at(typedLit(gens.map { case (p, g) => lastTwo(p) -> g }.toMap),
      substring_index(input_file_name(), "/", -2)), lit(NoDataGen))
  }

  /** The pending deletes that can mask `relFiles`, for a per-row reader:
    * the logical merge key and each masked key's highest key-file
    * generation ([[pendingKeyGens]], the same keys [[loadFiles]]
    * applies). None when no key file masks these files. */
  private[graft] def collectedMask(spark: SparkSession, zone: String, s: Snapshot,
                                   relFiles: Seq[String]): Option[(String, Map[Any, Long])] = {
    val masks = maskingKeys(s, relFiles)
    if (masks.isEmpty) None
    else Some((mergeKeyOf(s), pendingKeyGens(spark, zone, s, masks)))
  }

  /** Merge an incoming write's schema into the zone's: matched columns
    * must keep their exact type (no silent widening — a type change is a
    * rewrite, not an append), new columns append at the end as nullable
    * (old files lack them → null), and columns the write omits stay,
    * nullable (its new files lack them → null). Field names match
    * case-sensitively — the manifest is the single source of truth, so
    * there is no engine-config ambiguity to respect. */
  private[graft] def mergeSchemas(base: org.apache.spark.sql.types.StructType,
                                  next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val kept = base.fields.map { bf =>
      next.fields.find(_.name == bf.name) match {
        case Some(nf) =>
          require(nf.dataType == bf.dataType,
            s"schema evolution cannot change column '${bf.name}' from " +
              s"${bf.dataType.simpleString} to ${nf.dataType.simpleString} — " +
              "rewrite the zone (replace) to retype")
          bf.copy(nullable = bf.nullable || nf.nullable)
        case None => bf.copy(nullable = true)
      }
    }
    val baseNames = base.fieldNames.toSet
    val added = next.fields.filterNot(f => baseNames(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(kept ++ added)
  }

  /** The schema an append or merge of `written` commits: the head's
    * tracked schema (or, for a pre-tracking zone with data, its inferred
    * read schema — one-time bootstrap) merged with it by
    * [[mergeSchemas]]. */
  private def evolvedSchema(spark: SparkSession, zone: String, head: Snapshot,
                            written: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    zoneSchema(head).orElse(
      if (head.files.nonEmpty) Some(readSnapshot(spark, zone, head).schema) else None)
      .fold(written)(mergeSchemas(_, written))

  /** The typed per-file stats ([[ColStat]]: rows, null count, min/max)
    * of the `statsCols` columns over `files` (zone-relative, with bytes
    * and mtime), keyed by zone-relative file then LOGICAL column name —
    * for the files [[listStaged]] found, which [[commitRewrite]] alone
    * stages ([[stage]]'s tasks read their own footers instead). Parquet
    * already keeps these numbers per row group, so this reads only the
    * footers of `files` and runs no Spark job; [[footerFileStats]] names
    * the column types whose footer values are byte-identical to Spark's
    * `min`/`max`. Everything else — another format; a float, double,
    * decimal, timestamp or other stats column; a row group without
    * min/max — runs [[aggregateFileStats]] once over `files`. `written`
    * is the schema of the frame the files were written from (physical
    * column names), which fixes each column's type without inference. No
    * stats columns, no work. */
  private def collectFileStats(spark: SparkSession, root: Path,
                               files: Seq[(String, (Long, Long))],
                               written: Option[org.apache.spark.sql.types.StructType],
                               format: String, statsCols: Seq[String],
                               colmap: Map[String, String] = Map.empty)
      : Map[String, Map[String, ColStat]] =
    if (statsCols.isEmpty) Map.empty
    else written.flatMap(w => footerFileStats(spark.sparkContext.hadoopConfiguration,
        root, files, w, format, statsCols, colmap))
      .getOrElse(aggregateFileStats(spark, root, files, format, statsCols, colmap, written))

  /** [[collectFileStats]] from Parquet footers, or None when some stats
    * column or row group cannot give exactly what [[aggregateFileStats]]
    * commits. Footers serve three column types:
    *  - integral ("num"): Parquet's signed INT32/INT64 bounds are Spark's,
    *    and `Double.toString(v.toDouble)` is what the aggregation's
    *    `cast("double")` prints;
    *  - UTF-8 strings ("str"): Parquet orders them as unsigned bytes, the
    *    order of `UTF8String`;
    *  - dates ("str") in years 1583-9999: one-width ISO strings order
    *    chronologically, and no Julian/Gregorian rebase applies.
    * Floats, doubles and decimals (NaN ordering, scale formatting),
    * timestamps (their string form follows the session time zone) and
    * every other type go to the aggregation, as does any row group
    * without min/max or a null count (parquet-mr leaves them out for
    * binary bounds above 4 KiB) — the answer is all-footer or
    * all-aggregate, never mixed. A
    * zero-row file (an empty write partition) has no row groups and
    * records rows=0 with no bounds, exactly the aggregation's fill. */
  private[graft] def footerFileStats(conf: org.apache.hadoop.conf.Configuration,
                                     root: Path, files: Seq[(String, (Long, Long))],
                                     written: org.apache.spark.sql.types.StructType,
                                     format: String, statsCols: Seq[String],
                                     colmap: Map[String, String] = Map.empty)
      : Option[Map[String, Map[String, ColStat]]] = {
    import org.apache.parquet.column.statistics.Statistics
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType}
    import scala.jdk.CollectionConverters._
    if (format != "parquet") return None
    val cols = statsCols.distinct
    val physical = cols.map(c => c -> colmap.getOrElse(c, c)).toMap
    // 'i' integral, 's' UTF-8 string, 'd' date
    val tpe = cols.map(c => c -> written.find(_.name == physical(c)).map(_.dataType).collect {
      case ByteType | ShortType | IntegerType | LongType => 'i'
      case dt if dt == StringType => 's' // default (UTF8_BINARY) collation only
      case DateType => 'd'
    }).toMap
    if (tpe.values.exists(_.isEmpty)) return None
    val (minDay, maxDay) = (java.time.LocalDate.of(1583, 1, 1).toEpochDay,
      java.time.LocalDate.of(9999, 12, 31).toEpochDay)
    // (rows, nulls, bounds as committed strings) of one column in one
    // file; None when the footer cannot answer exactly
    def fold(meta: org.apache.parquet.hadoop.metadata.ParquetMetadata, c: String)
        : Option[(Long, Long, Option[(String, String)])] = {
      val t = tpe(c).get
      var rows = 0L
      var nulls = 0L
      var acc: Statistics[_] = null
      val blocks = meta.getBlocks.iterator()
      while (blocks.hasNext) {
        val b = blocks.next()
        val chunk = b.getColumns.iterator().asScala
          .find(_.getPath.toArray.sameElements(Array(physical(c)))).orNull
        if (chunk == null) return None
        val pt = chunk.getPrimitiveType
        val ann = pt.getLogicalTypeAnnotation
        val typeOk = t match {
          case 'i' => (pt.getPrimitiveTypeName == INT32 || pt.getPrimitiveTypeName == INT64) &&
            (ann == null || ann.isInstanceOf[IntLogicalTypeAnnotation] &&
              ann.asInstanceOf[IntLogicalTypeAnnotation].isSigned)
          case 's' => pt.getPrimitiveTypeName == BINARY &&
            ann.isInstanceOf[StringLogicalTypeAnnotation]
          case _ => pt.getPrimitiveTypeName == INT32 &&
            ann.isInstanceOf[DateLogicalTypeAnnotation]
        }
        // parquet-mr leaves out the whole statistics of a chunk whose
        // binary bounds pass 4 KiB; other writers may keep the null count
        // but drop the bounds — either way the footer can't answer
        val st = chunk.getStatistics
        if (!typeOk || st == null || !st.isNumNullsSet) return None
        if (!st.hasNonNullValue && st.getNumNulls != b.getRowCount) return None
        rows += b.getRowCount
        nulls += st.getNumNulls
        if (st.hasNonNullValue) {
          if (acc == null) acc = Statistics.createStats(pt)
          acc.mergeStatistics(st)
        }
      }
      if (acc == null) return Some((rows, nulls, None))
      def num(v: Any) = v.asInstanceOf[Number].longValue
      val (mn, mx) = (acc.genericGetMin, acc.genericGetMax)
      val render: Any => String = t match {
        case 'i' => v => java.lang.Double.toString(num(v).toDouble)
        case 's' => v => v.asInstanceOf[Binary].toStringUsingUTF8
        case _ => v => java.time.LocalDate.ofEpochDay(num(v)).toString
      }
      if (t == 'd' && (num(mn) < minDay || num(mx) > maxDay)) None
      else Some((rows, nulls, Some((render(mn), render(mx)))))
    }
    val footers = readFooters(conf, files.map { case (rel, (len, mtime)) =>
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, mtime, new Path(root, rel))
    })
    val perFile = files.map(_._1).zip(footers).map { case (rel, meta) =>
      rel -> cols.map(c => c -> fold(meta, c)).toMap
    }
    if (perFile.exists(_._2.values.exists(_.isEmpty))) return None
    Some(perFile.map { case (rel, m) =>
      rel -> cols.map { c =>
        val (rows, nulls, bounds) = m(c).get
        c -> ColStat(if (tpe(c).contains('i')) "num" else "str", rows, nulls,
          bounds.map(_._1), bounds.map(_._2))
      }.toMap
    }.toMap)
  }

  /** The Parquet footers of `files`, in order — read on a small thread
    * pool past a handful of files, like Spark's
    * `readParquetFootersInParallel`, since each read is one round trip. */
  private def readFooters(conf: org.apache.hadoop.conf.Configuration,
                          files: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def read(st: org.apache.hadoop.fs.FileStatus) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getFooter finally r.close()
    }
    if (files.size <= 4) files.map(read)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, files.size), { (r: Runnable) =>
          val t = new Thread(r, "txlog-footers"); t.setDaemon(true); t
        })
      try {
        val futures = files.map(st => pool.submit(
          new java.util.concurrent.Callable[org.apache.parquet.hadoop.metadata.ParquetMetadata] {
            def call() = read(st)
          }))
        futures.map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
  }

  /** [[collectFileStats]] by aggregation: read `files` back and compute
    * every stats column's bounds and null count in ONE
    * `groupBy(input_file_name)` job. Numeric columns record doubles
    * ("num"); everything else records its string form ("str" — ISO
    * date/timestamp strings order chronologically). `written`, the
    * schema the files were written with (physical names), spares the
    * read-back Spark's schema-inference job. */
  private[graft] def aggregateFileStats(spark: SparkSession, root: Path,
                                        files: Seq[(String, (Long, Long))],
                                        format: String, statsCols: Seq[String],
                                        colmap: Map[String, String] = Map.empty,
                                        written: Option[org.apache.spark.sql.types.StructType] = None)
      : Map[String, Map[String, ColStat]] = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, when}
    // stats are keyed by LOGICAL column names throughout the manifest;
    // freshly-written files carry physical names, so surface them
    // logically before aggregating
    val dfRaw = written.fold(spark.read)(spark.read.schema).format(format)
      .load(files.map(e => new Path(root, e._1).toString): _*)
    val rev = colmap.map(_.swap)
    val df =
      if (rev.isEmpty || !dfRaw.columns.exists(rev.contains)) dfRaw
      else dfRaw.toDF(dfRaw.columns.map(c => rev.getOrElse(c, c)).toIndexedSeq: _*)
    val kinds = statsCols.map { c =>
      c -> (df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => "num"
        case _ => "str"
      })
    }.toMap
    val colAggs = statsCols.flatMap { c =>
      val v = if (kinds(c) == "num") col(c).cast("double") else col(c).cast("string")
      Seq(min(v), max(v), count(when(col(c).isNull, 1)))
    }
    val aggs = count(lit(1)).as("_rows") +: colAggs
    val rootPath = root.toUri.getPath.stripSuffix("/")
    val rows = df.groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val stats = rows.map { r =>
      val rel = new Path(new java.net.URI(r.getString(0))).toUri.getPath
        .stripPrefix(rootPath).stripPrefix("/")
      val nRows = r.getLong(1)
      val perCol = statsCols.zipWithIndex.map { case (c, i) =>
        val base = 2 + i * 3
        def v(at: Int): Option[String] =
          if (r.isNullAt(at)) None else Some(r.get(at).toString)
        c -> ColStat(kinds(c), nRows, r.getLong(base + 2), v(base), v(base + 1))
      }.toMap
      rel -> perCol
    }.toMap
    // ZERO-ROW files (an empty write partition — e.g. a merge whose
    // touched side vanished entirely) never appear in the
    // groupBy(input_file_name) result, which would leave them stat-less:
    // every stats read then treats them as "unknown, must scan" and
    // metadataCount refuses the zone. Record them explicitly as
    // rows=0 / all-null stats — pruning then correctly always skips them
    // and the row count stays exact.
    val empties = files.map(_._1).filterNot(stats.contains)
    stats ++ empties.map(rel =>
      rel -> statsCols.map(c => c -> ColStat(kinds(c), 0L, 0L, None, None)).toMap)
  }

  /** The stats columns a zone tracks: this write's request, else the
    * zone's committed choice (so stats survive writers that don't repeat
    * the option). */
  private def effectiveStatsCols(statsCols: Seq[String],
                                 headMeta: Map[String, String]): Seq[String] =
    if (statsCols.nonEmpty) statsCols
    else headMeta.get("stats.cols").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Append `df` as a new generation: new files land in a fresh
    * `d-<uuid>/` dir, the manifest is head.files ++ new files. A lost
    * publish race rebases the same files on the new head — appends never
    * conflict on data, only on the gen number.
    * The new files' typed stats ([[ColStat]]) for `statsCols` — or, when
    * empty, for the zone's committed `stats.cols` — are committed in the
    * same manifest, enabling [[readWhereCol]] file skipping. */
  def append(spark: SparkSession, zone: String, df: DataFrame,
             meta: Map[String, String] = Map.empty,
             statsCols: Seq[String] = Nil): Snapshot =
    appendImpl(spark, zone, df, meta, statsCols, batchId = None)
      .getOrElse(sys.error("unreachable: append without a batchId never skips"))

  /** Shared append body. With `batchId`, a batch at or below the
    * committed mark is skipped before anything is staged, and
    * [[commitLoop]] re-checks it on every head it publishes on. Returns
    * None when the batch was already committed. */
  private def appendImpl(spark: SparkSession, zone: String, df: DataFrame,
                         meta: Map[String, String],
                         statsCols: Seq[String],
                         batchId: Option[Long]): Option[Snapshot] = {
    val head0 = latest(spark, zone).getOrElse(init(spark, zone))
    if (committedAt(head0, batchId)) return None
    // write under PHYSICAL names (stable across renames; a frame column
    // the mapping doesn't know is new — its physical name IS its name)
    val cmap = colMap(head0.meta)
    val used = usedPhysical(head0.meta)
    if (used.nonEmpty) {
      // an evolution-append may not claim a RETIRED physical name: old
      // files still carry those bytes and would resurface under the new
      // column. ALTER TABLE ADD COLUMNS assigns a fresh physical name.
      // Case-insensitive on both sides (Spark's parquet resolution): a
      // case-variant of a tracked column IS that column (not new), and a
      // case-variant of a tombstoned name would alias the dropped bytes.
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val knownLc = zoneSchema(head0)
        .map(_.fieldNames.map(lc).toSet).getOrElse(Set.empty)
      val usedLc = used.map(lc)
      val clash = df.columns.filterNot(c => knownLc(lc(c)))
        .filter(c => usedLc(lc(c)))
      require(clash.isEmpty,
        s"txlog append: column(s) ${clash.mkString(", ")} reuse a physical " +
          "name retired by a drop/rename — add them via ALTER TABLE ADD " +
          "COLUMNS (addColumns), which maps them to a fresh physical name")
    }
    val tCols = effectiveStatsCols(statsCols, head0.meta)
    val added = stage(spark, zone, head0.format, toPhysical(df, cmap), tCols, cmap)
    val statsMeta =
      if (tCols.nonEmpty) Map("stats.cols" -> tCols.mkString(",")) else Map.empty
    commitLoop[Snapshot](spark, zone, "append", head0, Rebase, batchId) { head =>
      // carry earlier generations' metadata forward (e.g. the streaming
      // sink's batchId high-water mark); this publish's keys override.
      // The schema evolves against THIS head — a rival append that won
      // the race may have added its own columns.
      val schemaMeta = Map("schema" -> evolvedSchema(spark, zone, head, df.schema).json)
      Publish(nextState(head, Set.empty, added, ThisGen).copy(
        meta = head.meta ++ statsMeta ++ schemaMeta ++ meta ++ Map("op" -> "append")),
        added.dirs, identity)
    }
  }

  /** Common-prefix string comparison for "str" stats: compares only the
    * first min(len) characters and reports 0 when one side is a prefix of
    * the other. A strict prefix inequality implies the same strict full-
    * string inequality, so pruning on it is sound for ANY strings — and
    * it is what makes mixed-granularity chronological bounds safe: a
    * DATE-typed stat "1996-01-01" against a caller bound
    * "1996-01-01 00:00:00" compares EQUAL (ambiguous → keep) instead of
    * lexicographically smaller (which would prune a file whose rows the
    * exact predicate then matches — silently missing data). */
  private def cmpPrefix(a: String, b: String): Int = {
    val k = math.min(a.length, b.length)
    a.substring(0, k).compareTo(b.substring(0, k))
  }

  /** Files a range predicate on `column` can touch under the TYPED stats:
    * files without a stat for the column are kept (never skip blind);
    * files whose [min, max] misses [lo, hi] — compared as doubles for
    * "num" columns, by [[cmpPrefix]] for "str" (prune only on a STRICT
    * common-prefix inequality, so bound formats of finer or coarser
    * granularity than the stat strings can never prune a qualifying
    * file) — are pruned, as are files where the column is entirely null
    * (a range predicate is null-rejecting). NaN bounds keep the file. */
  def prunedFilesFor(s: Snapshot, column: String, lo: Any, hi: Any): Seq[String] =
    s.files.filter { f =>
      s.colStats.get(f).flatMap(_.get(column)) match {
        case Some(st) => (st.min, st.max) match {
          case (Some(mn), Some(mx)) if st.kind == "num" =>
            val (l, h) = (lo.toString.toDouble, hi.toString.toDouble)
            val (m, x) = (mn.toDouble, mx.toDouble)
            m.isNaN || x.isNaN || (x >= l && m <= h)
          case (Some(mn), Some(mx)) =>
            cmpPrefix(mx, lo.toString) >= 0 && cmpPrefix(mn, hi.toString) <= 0
          case _ => false // entirely-null column: no row can pass the range
        }
        case None => true
      }
    }

  /** Range predicate that keeps PARQUET PUSHDOWN alive: the literal is
    * cast to the COLUMN's native type, never the column to the
    * literal's — a cast around the column makes the filter opaque to the
    * scan, losing the row-group min/max skipping INSIDE each file that
    * manifest-level pruning composes with. Bounds must be representable
    * in the column's type (e.g. no fractional bounds on an integer
    * column) — under ANSI the constant-folded cast fails loudly at plan
    * time rather than silently filtering everything. */
  private def nativeRangePred(df: DataFrame, column: String,
                              lo: Any, hi: Any): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val dt = df.schema(column).dataType
    col(column) >= lit(lo.toString).cast(dt) &&
      col(column) <= lit(hi.toString).cast(dt)
  }

  /** Range read with manifest-based file skipping: scans ONLY the files
    * whose committed min/max for `column` overlap [lo, hi] (plus files
    * without a stat for it), then applies the exact predicate. At 100 TB
    * this is the difference between touching 3 files and 800k — the
    * reason the stats live in the manifest. The zone must track
    * `column` in its `statsCols`. */
  def readWhereCol(spark: SparkSession, zone: String, column: String,
                   lo: Any, hi: Any): DataFrame = {
    val head = latest(spark, zone).getOrElse(
      sys.error(s"$zone has no transaction log"))
    val tracked = head.meta.getOrElse("stats.cols", "").split(",")
    require(tracked.contains(column),
      s"$zone does not track stats for '$column' (tracked: ${tracked.mkString(",")}) " +
        "— write with statsCols to enable skipping")
    val keep = prunedFilesFor(head, column, lo, hi)
    if (keep.isEmpty)
      readSnapshot(spark, zone, head).filter(org.apache.spark.sql.functions.lit(false))
    else {
      val df = loadFiles(spark, zone, head, keep)
      df.filter(nativeRangePred(df, column, lo, hi))
    }
  }

  /** Conjunctive multi-column range read: a file is scanned only if its
    * stats overlap EVERY column's range — the read shape a Z-ordered
    * layout exists for ([[Layout.clusterByZ]] makes per-file min/max
    * tight on every clustered column simultaneously, so the intersection
    * of the per-column keep-lists is small). Exact predicates are applied
    * after, as always. */
  def readWhereCols(spark: SparkSession, zone: String,
                    preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readWhereCols needs at least one range predicate")
    val head = latest(spark, zone).getOrElse(
      sys.error(s"$zone has no transaction log"))
    val keep = preds.foldLeft(head.files) { case (files, (c, lo, hi)) =>
      val perCol = prunedFilesFor(head, c, lo, hi).toSet
      files.filter(perCol)
    }
    if (keep.isEmpty)
      readSnapshot(spark, zone, head).filter(org.apache.spark.sql.functions.lit(false))
    else {
      val df = loadFiles(spark, zone, head, keep)
      df.filter(preds.map { case (c, lo, hi) => nativeRangePred(df, c, lo, hi) }
        .reduce(_ && _))
    }
  }

  /** Null-count-based skipping: read the zone for an IS NOT NULL query on
    * `column`, scanning only files where at least one row is non-null. */
  def readWhereNotNull(spark: SparkSession, zone: String, column: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val head = latest(spark, zone).getOrElse(
      sys.error(s"$zone has no transaction log"))
    val keep = head.files.filter { f =>
      head.colStats.get(f).flatMap(_.get(column)) match {
        case Some(st) => st.nulls < st.rows
        case None => true
      }
    }
    if (keep.isEmpty)
      readSnapshot(spark, zone, head).filter(org.apache.spark.sql.functions.lit(false))
    else loadFiles(spark, zone, head, keep)
      .filter(col(column).isNotNull)
  }

  /** Thrown by [[replace]] when `expectedBase` validation fails: the head
    * generation moved past the snapshot this replacement was computed
    * from. The staged data files are already cleaned up when this
    * propagates; the caller re-reads the head, recomputes, and retries —
    * or uses [[replaceCas]], which runs exactly that loop. */
  final class SnapshotMovedException(val zone: String,
                                     val expected: Long, val found: Long)
    extends RuntimeException(
      s"txlog replace of $zone: base generation moved ($expected -> $found); " +
        "recompute against the new head and retry")

  /** Atomically REPLACE the zone's content with `df` as a new generation
    * — the transactional form of `mode("overwrite")`: a reader holding
    * the previous snapshot keeps reading its (immutable) files; a reader
    * arriving mid-write sees the previous complete generation until the
    * single publish flips the head.
    *
    * Concurrency is the caller's choice via `expectedBase`:
    *  - None (default): last-writer-wins by intent — a lost publish race
    *    just rebases on the new head and re-claims the next number. Right
    *    when `df` does not depend on the zone's current content (a full
    *    reload from an upstream source).
    *  - Some(gen): OPTIMISTIC concurrency — publish only while the head
    *    is still `gen`; a moved head (a rival replace/append/compact
    *    landed after this caller read its snapshot) deletes the staged
    *    files and throws [[SnapshotMovedException]] instead of silently
    *    overwriting the rival's commit with content computed from a
    *    STALE read. Blind last-write-wins here is the lost-update
    *    anomaly; aborting is what makes read-modify-write transforms
    *    safe. [[replaceCas]] is the retry loop packaged. */
  def replace(spark: SparkSession, zone: String, df: DataFrame,
              meta: Map[String, String] = Map.empty,
              statsCols: Seq[String] = Nil,
              expectedBase: Option[Long] = None): Snapshot = {
    val head0 = latest(spark, zone).getOrElse(init(spark, zone))
    expectedBase.filter(_ != head0.gen).foreach { eg =>
      // moved before any data was even staged — cheapest abort
      throw new SnapshotMovedException(zone, eg, head0.gen)
    }
    val tCols = effectiveStatsCols(statsCols, head0.meta)
    val files = stage(spark, zone, head0.format, df, tCols)
    // read-snapshot validation: a head that moved past the generation
    // this replacement was computed from removes the staged files (never
    // referenced by any manifest, so no reader is stranded) and aborts
    val onLoss = expectedBase.fold[OnLoss[Snapshot]](Rebase)(eg =>
      Pinned(() => throw new SnapshotMovedException(zone, eg,
        latest(spark, zone).map(_.gen).getOrElse(-1L))))
    commit[Snapshot](spark, zone, "replace", head0, onLoss) { head =>
      Publish(replacement(head, files, df.schema, tCols, meta), files.dirs, identity)
    }
  }

  /** What a replace of `head` with the `staged` files of a frame of
    * `schema` publishes. Replace RESETS the tracked schema: every live
    * file is new, so the zone's schema IS the replacement frame's (the
    * retype path the append-side merge guard points at). The column
    * mapping resets with it — the rewrite wrote logical names everywhere. */
  private def replacement(head: Snapshot, staged: Staged,
                          schema: org.apache.spark.sql.types.StructType,
                          statsCols: Seq[String], meta: Map[String, String]): Snapshot =
    staged.asZone(head, (head.meta -- ColMapMetaKeys - MergeKeyMeta) ++
      (if (statsCols.nonEmpty) Map("stats.cols" -> statsCols.mkString(",")) else Map.empty) ++
      Map("schema" -> schema.json) ++ meta ++ Map("op" -> "replace"))

  /** Compare-and-swap replace: read the head, compute the replacement
    * FROM that snapshot, publish only if the head has not moved; on a
    * conflict re-read, recompute, retry — the packaged retry hook for
    * read-modify-write transforms (dedupe-in-place, retention deletes,
    * GDPR scrubs) where last-writer-wins would silently drop a rival's
    * commit. `compute` receives the head snapshot each attempt (None on
    * a virgin zone) and must derive its output from THAT read — that is
    * the invariant the validation protects. */
  def replaceCas(spark: SparkSession, zone: String,
                 compute: Option[Snapshot] => DataFrame,
                 meta: Map[String, String] = Map.empty,
                 statsCols: Seq[String] = Nil): Snapshot = {
    val found = latest(spark, zone)
    // virgin zone: pin the freshly-created gen 0
    val head0 = found.getOrElse(init(spark, zone))
    commit[Snapshot](spark, zone, "replace", head0, Recompute) { head =>
      val df = compute(Some(head).filter(h => found.nonEmpty || h.gen != head0.gen))
      val tCols = effectiveStatsCols(statsCols, head.meta)
      val files = stage(spark, zone, head.format, df, tCols)
      Publish(replacement(head, files, df.schema, tCols, meta), files.dirs, identity)
    }
  }

  /** `inserted`/`updated` are row counts; `filesTouched` of `filesTotal`
    * is how many live files the key-range stats made the merge rewrite —
    * the number the whole design exists to keep small. */
  final case class MergeStats(gen: Long, filesTouched: Long, filesTotal: Long,
                              updatedRows: Long, insertedRows: Long)

  /** Conform `df` to `schema` column-for-column: present columns pass
    * through (types already match — [[mergeSchemas]] rejects retypes),
    * absent ones surface as typed nulls. The projection that lets a
    * merge union survivors (old schema) with updates (possibly wider). */
  private def conform(df: DataFrame,
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { fd =>
      if (have(fd.name)) col(fd.name).cast(fd.dataType).as(fd.name)
      else lit(null).cast(fd.dataType).as(fd.name)
    }: _*)
  }

  /** Keyed MERGE (upsert): rows of `updates` replace zone rows with the
    * same `key` value; keys the zone lacks are inserted — upsert-BY-KEY
    * semantics built on this log's primitives: a target zone holding
    * multiple rows for one key has ALL of them collapsed to the single
    * update row for that key (Delta's `WHEN MATCHED UPDATE SET *` is
    * cardinality-preserving instead; this merge treats `key` as the
    * primary key it prunes on). `updates` must be unique per key (the
    * standard multiple-match ambiguity is rejected, like Delta's) and
    * free of null keys (a null key can match no row).
    *
    * The batch merge is always a copy-on-write FOLD ([[foldCommit]]),
    * which is what makes its [[MergeStats]] exact: only files whose
    * committed [min, max] for `key` overlaps the updates' key range (or
    * a pending key file's range) are read and rewritten — the
    * [[prunedFilesFor]] skip used in reverse, as a WRITE amplification
    * bound; every other live file is carried into the new generation
    * untouched, stats and all. The rewrite is range-clustered by `key`,
    * so each output file carries a narrow key range. Zones without
    * tracked stats for `key` rewrite every file (correct, just
    * unpruned) — write with `statsCols` to get the bound.
    *
    * The survivors are computed FROM the head snapshot, so a lost race
    * recomputes them from the new one ([[commitLoop]]) —
    * last-writer-wins here would resurrect deleted rows or drop the
    * rival's. Schema evolves by the append rules ([[mergeSchemas]]):
    * updates may add columns, never retype.
    *
    * Reference anchor: the reference lake only ever APPENDS CDC deltas
    * (`lib/dynamodb-streaming-datalake-stack.ts:199-203`) and rebuilds
    * current state by full-scan compaction jobs; merge is the
    * incremental form of that snapshot (`Cdc.snapshot`'s LWW winner,
    * maintained in place). */
  def merge(spark: SparkSession, zone: String, updates: DataFrame, key: String,
            prePublishHook: () => Unit = () => ()): MergeStats =
    mergeImpl(spark, zone, updates, key, prePublishHook,
      batchId = None, mergeOnRead = false, lwwReduced = false)
      .getOrElse(sys.error("unreachable: merge without a batchId never skips"))

  /** The shared merge body. `opCol` marks TOMBSTONES: change rows whose
    * value there is `"D"` remove their key and re-insert nothing; every
    * other row upserts. The op column never lands in the zone.
    *
    * With `mergeOnRead` (the streaming sinks) the commit is
    * [[mergeOnReadCommit]] unless [[foldDue]] says the zone's pending key
    * files have outgrown its layout, in which case this batch folds them
    * ([[foldCommit]]); a merge key outside the key files' codec
    * ([[driverKeyType]]) always folds. `lwwReduced` says the caller
    * reduced `updates` to one row per key in this same call, so no
    * aggregate has to prove the keys unique. A batch with a null key is refused loudly; an empty
    * batch is a no-op. None = `batchId` was already committed. */
  private def mergeImpl(spark: SparkSession, zone: String, updates: DataFrame,
                        key: String,
                        prePublishHook: () => Unit,
                        batchId: Option[Long],
                        opCol: Option[String] = None,
                        mergeOnRead: Boolean,
                        lwwReduced: Boolean): Option[MergeStats] = {
    val head = latest(spark, zone).getOrElse(init(spark, zone))
    if (committedAt(head, batchId)) None
    else if (mergeOnRead && driverKeyType(updates.schema(key).dataType))
      mergeOnReadCommit(spark, zone, head, updates, key, prePublishHook,
        batchId, opCol, lwwReduced)
    else {
      // bounded driver state: key bounds + counts
      val updRows = updates.persist()
      try foldCommit(spark, zone, head, updRows, key, prePublishHook,
        batchId, opCol, batchKeys = None)
      finally updRows.unpersist()
    }
  }

  /** Has the zone at `head` already committed `batchId` (the streaming
    * sinks' high-water mark)? */
  private def committedAt(head: Snapshot, batchId: Option[Long]): Boolean =
    batchId.exists(b => head.meta.get("batchId").exists(_.toLong >= b))

  /** The fold rule: pending key files stay fewer than the data files
    * that predate them — the files the last fold (or whatever wrote the
    * zone before its first key file) left — so the batch whose key file
    * would bring them level folds instead. Every read pays for each
    * pending key file (its keys ride in the plan) and a point read opens
    * one base file plus the batches' files; the fold pays one rewrite of
    * the base layout; tying the two to the layout keeps them in
    * proportion with no knob. A zone with no data folds (that is a plain
    * write), and so does a batch on a different merge key than the
    * pending key files hold, or whose `batchKeys` would take the pending
    * keys past [[MaxPendingKeys]]. */
  private def foldDue(head: Snapshot, key: String, batchKeys: Long): Boolean = {
    val oldestKey = head.keys.valuesIterator.map(_.gen).minOption.getOrElse(Long.MaxValue)
    val base = head.files.count(f => head.dataGen(f) < oldestKey)
    (head.keys.nonEmpty && !head.meta.get(MergeKeyMeta).contains(key)) ||
      head.keys.size + 1 >= base ||
      head.keys.valuesIterator.map(_.stat.rows).sum + batchKeys > MaxPendingKeys
  }

  /** The batch's key bounds, row count and upserting-row count, from ONE
    * aggregate (each further action would be one more Spark job on the
    * commit path), after refusing null or duplicate keys. None for an
    * empty batch. */
  private def batchShape(updRows: DataFrame, key: String,
                         opCol: Option[String]): Option[(Any, Any, Long)] = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min, when}
    val upserts = opCol.fold(count(lit(1)))(c => count(when(col(c) =!= "D", 1)))
    val kr = updRows
      .agg(min(col(key)), max(col(key)), count(lit(1)), countDistinct(col(key)),
        count(when(col(key).isNull, 1)), upserts)
      .first()
    val (nRows, nKeys, nullKeys) = (kr.getLong(2), kr.getLong(3), kr.getLong(4))
    if (nRows == 0L) return None
    // a null key matches nothing and prunes nothing: refuse the batch
    // rather than drop its rows (countDistinct skips nulls, so the
    // uniqueness check below would misreport them as duplicates)
    require(nullKeys == 0L,
      s"merge key '$key' is null in $nullKeys of $nRows update rows — drop " +
        "or fill null keys before merging")
    require(nRows == nKeys,
      s"merge updates must be unique per '$key': $nRows rows over " +
        s"$nKeys distinct keys (resolve duplicates first — e.g. " +
        "Cdc.snapshot's last-writer-wins)")
    Some((kr.get(0), kr.get(1), kr.getLong(5)))
  }

  /** MERGE-ON-READ commit: the batch's upsert rows become new data files
    * (sorted by key) and ALL its keys, upserts and tombstones alike, one
    * key file sorted by key; both land in one publish with the `batchId`
    * mark. The rule [[loadFiles]] applies — a row of file F is live iff
    * no key file with a generation above F's data generation holds its
    * key — then hides every older row of the batch's keys, and the new
    * files (data generation = this commit's) stay visible. Nothing of
    * the zone is read, so the commit costs the batch, not the zone, and
    * a lost publish race just rebases like an append.
    *
    * Spark jobs: a reduced batch's shuffle runs once, then ONE job reads
    * its output and writes the upserts ([[stageTasks]]): each task writes
    * its partition's upsert rows, sorted by key, and reports the file, its
    * footer stats and every key it saw, tombstones too (two jobs);
    * caller-supplied updates add the aggregate proving their keys unique.
    * The data is written in the batch's own partitioning (the
    * reduction's adaptive shuffle sizes it: one file for a small batch,
    * parallel writers for a large one). The key file is written on the
    * driver from the reported keys, which also give its key bounds and
    * the null-key count; zero rows make the batch a no-op. A batch the
    * zone's layout already makes due for a fold collects its keys in one
    * job instead ([[collectBatchKeys]]) and folds with them; one with
    * more keys than [[MaxPendingKeys]] allows ([[foldDue]], re-checked
    * when a rival commit moves the head) drops its staged files and
    * folds. */
  private def mergeOnReadCommit(spark: SparkSession, zone: String, head0: Snapshot,
                                updates: DataFrame,
                                key: String,
                                prePublishHook: () => Unit, batchId: Option[Long],
                                opCol: Option[String],
                                lwwReduced: Boolean): Option[MergeStats] = {
    // both writes read the batch once: a reduced batch as the output of
    // its (already executed) reduction, caller-supplied updates from the
    // cache their uniqueness aggregate fills
    val updRows =
      if (lwwReduced) org.apache.spark.sql.graft.StreamBridge.sinkBatchDataFrame(updates)
      else updates.persist()
    try mergeOnReadWrite(spark, zone, head0, updRows, key, prePublishHook,
      batchId, opCol, lwwReduced)
    finally if (!lwwReduced) updRows.unpersist()
  }

  private def mergeOnReadWrite(spark: SparkSession, zone: String, head0: Snapshot,
                               updRows: DataFrame,
                               key: String,
                               prePublishHook: () => Unit, batchId: Option[Long],
                               opCol: Option[String],
                               lwwReduced: Boolean): Option[MergeStats] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    def noOp = Some(MergeStats(head0.gen, 0L, head0.files.size.toLong, 0L, 0L))
    if (!lwwReduced && batchShape(updRows, key, opCol).isEmpty) return noOp
    def refuseNullKeys(nullKeys: Long, rows: Long): Unit =
      require(nullKeys == 0,
        s"merge key '$key' is null in $nullKeys of $rows update rows — drop " +
          "or fill null keys before merging")
    def fold(head: Snapshot, batchKeys: Option[Array[Any]]) = foldCommit(spark, zone, head,
      updRows, key, prePublishHook, batchId, opCol, batchKeys)
    // a layout already due for a fold needs the keys before it writes
    if (foldDue(head0, key, 0L)) {
      val keys = collectBatchKeys(updRows.select(col(key))).getOrElse(return fold(head0, None))
      if (keys.isEmpty) return noOp
      refuseNullKeys(keys.count(_ == null).toLong, keys.length.toLong)
      return fold(head0, Some(sortKeys(keys)))
    }
    val cmap = colMap(head0.meta)
    val physKey = cmap.getOrElse(key, key)
    val schema = evolvedSchema(spark, zone, head0, opCol.fold(updRows)(updRows.drop(_)).schema)
    // the op column becomes the upsert flag, last and never written: a
    // tombstone (op "D", or a null op, which a filter on op != "D" drops)
    // is not written, and every row's key is reported
    val flagged = opCol.fold(updRows)(c =>
      updRows.withColumn(c, coalesce(col(c) =!= "D", lit(false))))
    val out = toPhysical(conform(flagged,
        opCol.fold(schema)(schema.add(_, org.apache.spark.sql.types.BooleanType))), cmap)
      .sortWithinPartitions(col(physKey))
    val (data, reports) = stageTasks(spark, zone, head0.format, out,
      effectiveStatsCols(Nil, head0.meta), cmap, Some(physKey -> opCol))
    val f = fs(spark, zone)
    def unstage(): Unit = data.dirs.foreach(f.delete(_, true))
    val nKeys = reports.iterator.map(_.seen.toLong).sum
    val nullKeys = reports.iterator.map(_.nullKeys).sum
    // past the bound the reports hold only part of the keys
    if (nKeys > MaxPendingKeys) { unstage(); return fold(head0, None) }
    if (nKeys + nullKeys == 0L) { unstage(); return noOp }
    if (nullKeys > 0L) unstage()
    refuseNullKeys(nullKeys, nKeys + nullKeys)
    val keys = sortKeys(reports.flatMap(_.keys).toArray)
    if (foldDue(head0, key, nKeys)) { unstage(); return fold(head0, Some(keys)) }
    val keyDir = newDir(f.makeQualified(new Path(zone)), "k-")
    val staged = data.dirs :+ keyDir
    val keyFile = try writeKeyFile(spark, zone, keyDir, updRows.schema(key).dataType, keys)
      catch { case e: Throwable => staged.foreach(f.delete(_, true)); throw e }
    val newKeys = Map(keyFile._1 -> KeyFile(ThisGen, keyFile._2))
    commitLoop[MergeStats](spark, zone, "merge", head0, Rebase, batchId, prePublishHook) { head =>
      // a rival's commit may make the zone due for a fold: the loop
      // removes this staging once the fold is done
      if (foldDue(head, key, keys.length.toLong)) Finish(fold(head, Some(keys)))
      else Publish(nextState(head, Set.empty, data, ThisGen).copy(
          meta = head.meta ++ Map("schema" -> evolvedSchema(spark, zone, head, schema).json,
            MergeKeyMeta -> key, "op" -> "merge"),
          keys = head.keys ++ newKeys),
        staged,
        // merge-on-read counts no matches: only the batch merge (always a
        // fold) reports them
        s => MergeStats(s.gen, 0L, head.files.size.toLong, 0L, 0L))
    }
  }

  /** COPY-ON-WRITE FOLD: rewrite every live file the batch's key range
    * or a pending key file's range touches — survivors of the pending
    * deletes and of the batch's keys, plus the batch's upserts — range-
    * clustered by `key` into as many files as the touched files that
    * predate the pending key files (the BASE files), and publish it with
    * the key files dropped. Untouched files hold no key of any dropped
    * key file, so dropping them all is exact. `batchKeys` are the batch's
    * sorted keys when a streaming commit already collected them: they
    * give the key bounds and mask the touched rows as a hash set, like
    * the pending keys ([[loadFiles]]); otherwise the batch aggregate
    * ([[batchShape]]) gives the bounds and an anti-join the mask. The
    * rows are placed by the base files' key ranges ([[foldLayout]]).
    * Spark jobs: that aggregate and join, the matched-key count (the
    * batch merge only), and the rewrite — one job when a streaming fold
    * keeps the base files' disjoint ranges, else range sampling, a
    * shuffle and the write; the new files' stats come from their footers
    * ([[stage]]). */
  private def foldCommit(spark: SparkSession, zone: String, head0: Snapshot,
                         updRows: DataFrame, key: String,
                         prePublishHook: () => Unit, batchId: Option[Long],
                         opCol: Option[String],
                         batchKeys: Option[Array[Any]]): Option[MergeStats] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // a streaming commit reports no row counts, so it needs no upsert count
    val (lo, hi, upsertCount) = batchKeys.map(k => (k.head, k.last, 0L))
      .orElse(batchShape(updRows, key, opCol)).getOrElse(
      return Some(MergeStats(head0.gen, 0L, head0.files.size.toLong, 0L, 0L)))
    // the re-insert side: tombstone rows remove their key and nothing
    // else; the op marker itself never lands in the zone
    val dataRows = opCol.map(c =>
      updRows.filter(col(c) =!= "D").drop(c)).getOrElse(updRows)
    commitLoop[MergeStats](spark, zone, "merge", head0, Recompute, batchId, prePublishHook) { head =>
      val tracked = head.meta.getOrElse("stats.cols", "").split(",").contains(key)
      val sameKey = head.keys.isEmpty || head.meta.get(MergeKeyMeta).contains(key)
      val ranges = (lo, hi) +: head.keys.values.toSeq.flatMap(k =>
        k.stat.min.zip(k.stat.max))
      val touchedSet =
        if (tracked && sameKey) ranges.flatMap { case (l, h) => prunedFilesFor(head, key, l, h) }.toSet
        else head.files.toSet
      val touched = head.files.filter(touchedSet)
      val schema = evolvedSchema(spark, zone, head, dataRows.schema)
      // no distinct: batchShape proved the keys unique and non-null
      val updKeys = updRows.select(col(key))
      // the live rows of `files` the batch does not replace
      def survivors(files: Seq[String]): DataFrame =
        if (files.isEmpty) conform(dataRows, schema).filter(lit(false))
        else {
          val df = loadFiles(spark, zone, head, files)
          conform(batchKeys match {
            // a null key is in no set, as it matches no key in the join
            case Some(k) => df.filter(coalesce(!keyIn(df, key, k), lit(true)))
            case None => df.join(updKeys, Seq(key), "left_anti")
          }, schema)
        }
      // count MATCHED UPDATE KEYS, not matched target rows: a zone
      // holding duplicate rows for one key would overcount updates and
      // push insertedRows negative. The semi join keeps each (unique)
      // update key at most once however many target rows it matches.
      // (Those duplicate target rows are collapsed to the single update
      // row for their key — upsert-by-key semantics — so updatedRows <=
      // total update rows and insertedRows >= 0.) A streaming fold
      // reports no counts, so it skips the join.
      val updatedRows =
        if (batchId.nonEmpty || touched.isEmpty) 0L
        else updKeys.join(loadFiles(spark, zone, head, touched).select(col(key)), Seq(key),
          "left_semi").count()
      val insertedRows = math.max(0L, upsertCount - updatedRows)
      val cmap = colMap(head.meta)
      val oldestKey = head.keys.valuesIterator.map(_.gen).minOption.getOrElse(Long.MaxValue)
      val base = touched.filter(p => head.dataGen(p) < oldestKey)
      val placed = foldLayout(key, base, touched.filterNot(base.toSet),
        if (tracked && sameKey) base.map(p => head.colStats.get(p).flatMap(_.get(key))) else Nil,
        survivors, conform(dataRows, schema), batchKeys,
        if (head.keys.isEmpty) Nil else pendingKeyGens(spark, zone, head, head.keys).keys)
      val physKey = col(cmap.getOrElse(key, key))
      val out = stage(spark, zone, head.format,
        toPhysical(placed, cmap).sortWithinPartitions(physKey),
        effectiveStatsCols(Nil, head.meta), cmap)
      // untouched files keep their committed stats; touched files' entries
      // drop. The fold applied every pending key file: the commit drops them
      Publish(nextState(head, touchedSet, out, NoDataGen).copy(
          meta = head.meta ++ Map("schema" -> schema.json, MergeKeyMeta -> key, "op" -> "merge"),
          keys = Map.empty),
        out.dirs,
        s => MergeStats(s.gen, touched.size.toLong, head.files.size.toLong,
          updatedRows, insertedRows))
    }
  }

  /** The fold's rows (`survivors` of the touched files, then `upserts`),
    * placed in range partitions of `key`, one per touched BASE file
    * (`base`, with their committed key stats `baseStats`; `rest` are the
    * other touched files). When the base files' numeric key ranges are
    * disjoint (the layout an earlier fold left) and the batch's keys are
    * in hand (a streaming fold: the masks are hash sets, no join), each
    * partition is one base file's survivors plus the other rows in its
    * range, side by side with no shuffle, so the write is the fold's only
    * job. That keeps the ranges, so it is taken only while it keeps them
    * even ([[evenRanges]]): fresh INSERT keys past the top file's max
    * would otherwise all land in the last file, fold after fold. Every
    * other fold — overlapping ranges (the first after a plain write), a
    * base file without a numeric key stat, a batch [[merge]], or a layout
    * the new keys would unbalance — samples the rows with
    * `repartitionByRange`, which evens the ranges out. Placement decides
    * only the layout; every row lands in exactly one partition. */
  private def foldLayout(key: String, base: Seq[String], rest: Seq[String],
                         baseStats: Seq[Option[ColStat]], survivors: Seq[String] => DataFrame,
                         upserts: DataFrame, batchKeys: Option[Array[Any]],
                         pendingKeys: => Iterable[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // empty base files hold no row to place: (file, min, max, rows)
    val ordered = base.zip(baseStats).collect {
      case (p, Some(st)) if st.rows > 0 && st.min.nonEmpty =>
        (p, st.min.get.toDouble, st.max.get.toDouble, st.rows)
    }.sortBy(_._2)
    val known = baseStats.size == base.size && baseStats.forall(_.exists(st =>
      st.rows == 0 || st.min.nonEmpty && st.kind == "num"))
    val disjoint = ordered.zip(ordered.drop(1)).forall { case (a, b) => a._3 < b._2 }
    val sideBySide = known && disjoint && batchKeys.exists(k =>
      evenRanges(ordered.map(f => (f._2, f._3, f._4)), k.toSet ++ pendingKeys))
    if (!sideBySide)
      return survivors(base ++ rest).unionByName(upserts)
        .repartitionByRange(math.max(1, base.size), col(key))
    val others = survivors(rest).unionByName(upserts)
    if (ordered.isEmpty) return others.coalesce(1)
    val at = rangeIds(others, key, ordered.drop(1).map(_._2))
    org.apache.spark.sql.graft.WriteBridge.sideBySide(ordered.zipWithIndex.map {
      case (f, i) => survivors(Seq(f._1)).unionByName(others.filter(at === lit(i)))
    })
  }

  /** Whether disjoint `ranges` (min, max, rows; ascending), each taking
    * the keys from its min up to the next one's, stay even when the
    * integral `keys` of the fold's new and pending rows join them: no
    * range would hold more than twice the mean, counting a row for each
    * key outside its range's [min, max] (a key inside one updates or
    * deletes a row it already holds). */
  private def evenRanges(ranges: Seq[(Double, Double, Long)], keys: => Iterable[Any]): Boolean =
    ranges.isEmpty || {
      val lows = ranges.drop(1).map(_._2).toArray
      val rows = ranges.map(_._3.toDouble).toArray
      keys.foreach { k =>
        val v = k.asInstanceOf[Number].doubleValue
        val i = splitsAtOrBelow(lows, v)
        if (v < ranges(i)._1 || v > ranges(i)._2) rows(i) += 1
      }
      rows.max <= 2 * rows.sum / rows.length
    }

  /** How many of the ascending `splits` are at or below `v`, by bisection. */
  private def splitsAtOrBelow(splits: Array[Double], v: Double): Int = {
    var (l, h) = (0, splits.length)
    while (l < h) { val m = (l + h) >>> 1; if (splits(m) <= v) l = m + 1 else h = m }
    l
  }

  /** The range partition of `df`'s numeric `key` among ascending
    * `splits`: how many of them are at or below the key; a null key is in
    * partition 0. */
  private def rangeIds(df: DataFrame, key: String,
                       splits: Seq[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.api.java.UDF1
    import org.apache.spark.sql.types.IntegerType
    val s = splits.toArray
    val f = new UDF1[Any, Int] {
      def call(k: Any): Int = if (k == null) 0
        else splitsAtOrBelow(s, k.asInstanceOf[java.lang.Double].doubleValue)
    }
    org.apache.spark.sql.functions.udf(f, IntegerType)(df.col(key).cast("double"))
  }

  /** Exactly-once streaming MERGE: the upsert twin of
    * [[exactlyOnceAppend]] — skip batches at or below the committed
    * high-water mark, and stamp the mark IN the merge's own publish so
    * data + mark flip atomically. Each batch commits MERGE-ON-READ
    * ([[mergeOnReadCommit]]: its rows and one key file, nothing of the
    * zone rewritten) until the pending key files call for a fold
    * ([[foldDue]]). Called per micro-batch, it turns a CDC stream into
    * an incrementally-maintained current-state table: the reference's
    * append-then-recompact lake (`firehose_transformation.py` + batch
    * snapshot jobs) collapsed into one idempotent sink ([[cdcMergeSink]]
    * for raw CDC batches). Returns true when the batch merged. */
  def mergeExactlyOnce(spark: SparkSession, zone: String, updates: DataFrame,
                       key: String, batchId: Long): Boolean =
    streamMerge(spark, zone, updates, key, batchId, None, lwwReduced = false, () => ())

  /** The exactly-once streaming commit shared by the sinks: a batch at
    * or below the committed mark is skipped before any compute, and
    * [[commitLoop]] re-checks it on every head, so two writers replaying
    * the same batchId cannot both commit (the mark rides in the merge's
    * OWN publish — data, key file and mark flip in one atomic commit). */
  private def streamMerge(spark: SparkSession, zone: String, updates: DataFrame,
                          key: String, batchId: Long, opCol: Option[String],
                          lwwReduced: Boolean, prePublishHook: () => Unit): Boolean =
    mergeImpl(spark, zone, updates, key, prePublishHook,
      batchId = Some(batchId), opCol = opCol, mergeOnRead = true,
      lwwReduced = lwwReduced).isDefined

  /** Each key's LAST-WRITER-WINS row of `df` (greatest `ordCol`,
    * remaining columns as a deterministic tiebreak — one hash agg over a
    * max-struct, the same no-window winner shape as `Cdc.snapshot`). */
  private def lastWriterWins(df: DataFrame, key: String, ordCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val others = df.columns.filterNot(c => c == key || c == ordCol).toSeq
    df.groupBy(col(key))
      .agg(max(struct((ordCol +: others).map(col): _*)).as("__w"))
      .select(col(key) +: (ordCol +: others).map(c => col("__w." + c).as(c)): _*)
      .select(df.columns.toSeq.map(col): _*)
  }

  /** The CDC current-state sink: each micro-batch is first reduced to its
    * per-key LAST-WRITER-WINS row ([[lastWriterWins]]), then upserted
    * exactly-once, merge-on-read — the reduction already made the keys
    * unique, so the commit runs no aggregate of its own. This maintains
    * the compacted current-state table INCREMENTALLY — the reference
    * computes it by full-scan snapshot jobs over the appended delta lake
    * (`Cdc.snapshot` replaying `firehose_transformation.py` output); at
    * 100 TB the full rebuild reads everything ever written, this writes
    * the batch and folds only when the pending key files call for it.
    *
    * Ordering contract: batches are assumed key-ordered ACROSS batches —
    * exactly the reference transport's guarantee (Kinesis per-shard
    * ordering: one key rides one shard, `lib/dynamodb-streaming-
    * datalake-stack.ts:59-64`), so a later batch's row for a key
    * supersedes the stored one unconditionally. A transport without that
    * guarantee needs a compare-on-`ordCol` merge variant instead. */
  def cdcMergeSink(zone: String, key: String,
                   ordCol: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      streamMerge(df.sparkSession, zone, lastWriterWins(df, key, ordCol), key,
        batchId, None, lwwReduced = true, () => ()): Unit
    }

  /** Exactly-once keyed CHANGES: [[mergeExactlyOnce]] extended with
    * tombstones — rows whose `opCol` value is `"D"` DELETE their key
    * from the zone (nothing re-inserted), every other row upserts. The
    * primitive a CDC feed with REMOVE events needs to maintain a
    * current-state corpus: membership retracts, not just replaces. The
    * op column never lands in the zone; changes must be unique per key
    * (reduce to the per-key last-writer first — [[cdcChangesSink]]). */
  def changesExactlyOnce(spark: SparkSession, zone: String, changes: DataFrame,
                         key: String, opCol: String, batchId: Long): Boolean =
    streamMerge(spark, zone, changes, key, batchId, Some(opCol), lwwReduced = false,
      () => ())

  /** [[changesExactlyOnce]]'s batch applied COPY-ON-WRITE (a fold, no
    * batchId): the reference the merge-on-read property spec compares
    * against. */
  private[graft] def foldChanges(spark: SparkSession, zone: String, changes: DataFrame,
                                 key: String, opCol: String): MergeStats =
    mergeImpl(spark, zone, changes, key, () => (), batchId = None,
      opCol = Some(opCol), mergeOnRead = false, lwwReduced = false)
      .getOrElse(sys.error("unreachable: a fold without a batchId never skips"))

  /** The keyed-CDC current-state sink WITH tombstones: each micro-batch
    * reduces to its per-key last-writer-wins CHANGE (greatest `ordCol`;
    * the op rides the winner struct, so a key whose final event in the
    * batch is a delete tombstones even if earlier events upserted), then
    * commits exactly-once and merge-on-read like [[cdcMergeSink]]: the
    * tombstoned keys ride in the batch's key file with the upserted
    * ones. This is [[cdcMergeSink]] for feeds where REMOVE means "leave
    * the table", not "merge a null image" — the streaming lake's
    * corpus-membership sink (round-15 directive #4). Same cross-batch
    * ordering contract as [[cdcMergeSink]]. `prePublishHook` runs after
    * the batch's files are staged, before the publish (a test seam). */
  def cdcChangesSink(zone: String, key: String, ordCol: String,
                     opCol: String,
                     prePublishHook: () => Unit = () => ()): (DataFrame, Long) => Unit =
    (df, batchId) => {
      streamMerge(df.sparkSession, zone, lastWriterWins(df, key, ordCol), key,
        batchId, Some(opCol), lwwReduced = true, prePublishHook): Unit
    }

  /** `deletedRows` is exact; `filesTouched` of `filesTotal` is how many
    * live files the range stats made the delete rewrite. */
  final case class DeleteStats(gen: Long, filesTouched: Long, filesTotal: Long,
                               deletedRows: Long)

  /** Targeted DELETE: remove every row where `column` ∈ [lo, hi],
    * rewriting ONLY the files whose committed stats overlap the range —
    * the retention/GDPR-scrub primitive [[replaceCas]]'s scaladoc points
    * at, with the same write-amplification bound as [[merge]]: a scrub
    * of one user's key touches that key's files, never the zone. A file
    * whose stats sit ENTIRELY inside [lo, hi] could in principle be
    * dropped without reading; it is rewritten anyway so `deletedRows` is
    * exact and stat-less edge files stay correct — the dominant cost is
    * unchanged (files the range misses are never read). Zones without
    * stats for `column` rewrite every file (correct, unpruned). */
  def deleteWhereCol(spark: SparkSession, zone: String, column: String,
                     lo: Any, hi: Any,
                     prePublishHook: () => Unit = () => ()): DeleteStats =
    deleteWhereFiles(spark, zone,
      head => {
        val tracked =
          head.meta.getOrElse("stats.cols", "").split(",").contains(column)
        if (tracked) prunedFilesFor(head, column, lo, hi) else head.files
      },
      df => nativeRangePred(df, column, lo, hi), prePublishHook)

  /** General rewrite DELETE — [[deleteWhereCol]] with the two
    * predicate-shaped decisions injected, so ANY predicate source (the
    * range form above; SQL `DELETE FROM` on the DSv2 table, whose WHERE
    * clause arrives as translated v1 filters) reuses one rewrite loop:
    *
    *  - `touchedFor(head)` names the files the predicate might live in —
    *    a SUPERSET contract (a file omitted here keeps ALL its rows, so
    *    an under-approximation would silently not-delete); callers prune
    *    with committed stats when they can, `head.files` when they
    *    can't.
    *  - `pred(touchedDf)` is the EXACT delete predicate over the loaded
    *    touched files; survivors are its complement. Null-safe by
    *    Column semantics: a NULL predicate row survives (SQL DELETE
    *    deletes only rows where the condition is TRUE).
    *
    * Each attempt rewrites the survivors of its head into a fresh data
    * dir and publishes op=delete with the untouched files carried over —
    * write amplification stays O(touched), the merge/scrub bound. A lost
    * race recomputes from the new head ([[commitLoop]]). */
  def deleteWhereFiles(spark: SparkSession, zone: String,
                       touchedFor: Snapshot => Seq[String],
                       pred: DataFrame => org.apache.spark.sql.Column,
                       prePublishHook: () => Unit = () => ()): DeleteStats =
    commit[DeleteStats](spark, zone, "delete", latest(spark, zone).getOrElse(init(spark, zone)),
      Recompute, prePublishHook) { head =>
      val touched = touchedFor(head)
      if (touched.isEmpty) Finish(Some(DeleteStats(head.gen, 0L, head.files.size.toLong, 0L)))
      else {
        val touchedDf = loadFiles(spark, zone, head, touched)
        // SQL DELETE removes only rows where the condition is TRUE: a
        // NULL-valued predicate row must SURVIVE. A bare !pred would be
        // NULL for those rows and filter them out of the survivors —
        // silently deleting them — so the predicate is coalesced to
        // false before negation.
        val survivors = touchedDf.filter(
          !org.apache.spark.sql.functions.coalesce(pred(touchedDf),
            org.apache.spark.sql.functions.lit(false)))
        val deleted = touchedDf.count() - survivors.count()
        val cmap = colMap(head.meta)
        val out = stage(spark, zone, head.format, toPhysical(survivors, cmap),
          effectiveStatsCols(Nil, head.meta), cmap)
        // survivors were read through the pending deletes: stamped with the
        // generation they were read at (see commitRewrite)
        Publish(nextState(head, touched.toSet, out, head.gen)
            .copy(meta = head.meta ++ Map("op" -> "delete")),
          out.dirs,
          s => DeleteStats(s.gen, touched.size.toLong, head.files.size.toLong, deleted))
      }
    }

  /** Exact row count from manifest stats alone — ZERO data files read:
    * the aggregate-pushdown answer Delta/Iceberg serve from file-level
    * metadata, and at 100 TB the difference between a catalog lookup and
    * a full scan. Every [[ColStat]] carries the file's row count (all
    * columns of a file agree), so any tracked column serves. None when
    * some live file predates stats tracking — the caller falls back to a
    * scan rather than trusting a partial count — and while key deletes
    * are pending, since the manifest row counts then include the rows
    * they mask. */
  def metadataCount(spark: SparkSession, zone: String): Option[Long] = {
    val head = latest(spark, zone).getOrElse(return None)
    if (head.pendingDeletes) return None
    if (head.files.isEmpty) return Some(0L)
    val perFile = head.files.map(f =>
      head.colStats.get(f).flatMap(_.values.headOption).map(_.rows))
    if (perFile.forall(_.isDefined)) Some(perFile.flatten.sum) else None
  }

  /** The complete snapshot of generation `gen`, if its manifest still
    * exists (i.e. within [[vacuum]] retention) — explicit time travel by
    * generation number, beyond the pinned-snapshot form [[readSnapshot]]
    * already serves. */
  def snapshotAt(spark: SparkSession, zone: String, gen: Long): Option[Snapshot] =
    resolveSnapshot(fs(spark, zone), zone, gen)

  /** The newest snapshot whose commit LANDED at or before `tsMillis`,
    * by manifest-file modification time — the same commit clock the
    * torn-manifest grace window and vacuum already trust, and the same
    * rule Delta's timestamp time travel uses (the filesystem stamps the
    * commit; no clock rides in the manifest body). Candidate
    * generations are tried newest-first so a torn corpse at the cutoff
    * falls through to the newest RESOLVABLE commit. None when no commit
    * existed that early (callers distinguish "zone too young" from
    * "zone has no log"). Within-retention only, like [[snapshotAt]]:
    * a vacuumed generation's files are gone regardless of what the log
    * remembers. */
  def snapshotAsOf(spark: SparkSession, zone: String,
                   tsMillis: Long): Option[Snapshot] = {
    val f = fs(spark, zone)
    val dir = logDirPath(zone)
    if (!f.exists(dir)) return None
    val gens = f.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.startsWith("gen-") &&
        st.getModificationTime <= tsMillis)
      .flatMap(st => pathGen(st.getPath))
      .sorted(Ordering[Long].reverse)
    gens.iterator.flatMap(g => snapshotAt(spark, zone, g)).nextOption()
  }

  /** Commit history within retention — Delta's DESCRIBE HISTORY: one row
    * per surviving commit, newest first, with the operation that
    * produced it (every write path stamps `op` into its commit meta),
    * the commit kind (full manifest vs delta actions), and the action
    * counts. Reads ONLY commit files (bounded by vacuum's log GC), never
    * data; the audit surface an operator checks before a RESTORE. */
  def history(spark: SparkSession, zone: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, zone)
    val dir = logDirPath(zone)
    val rows: Seq[(Long, Long, String, String, Long, Long, Option[Long],
        java.sql.Timestamp)] =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq
        .filter(_.getPath.getName.startsWith("gen-"))
        .flatMap(st => readCommit(f, st.getPath)
          .map(c => (c, st.getModificationTime)))
        .sortBy(-_._1.gen)
        .map { case (c, mt) =>
          // commit_ts is the manifest's mtime — the clock snapshotAsOf's
          // timestamp travel resolves against, so a history row's time
          // is exactly what .option("asOfTimestamp", ...) accepts
          val ts = new java.sql.Timestamp(mt)
          c match {
            case FullCommit(s) =>
              (s.gen, s.baseGen, "full",
                s.meta.getOrElse("op", ""), s.files.size.toLong, 0L,
                s.meta.get("batchId").map(_.toLong), ts)
            case d: DeltaCommit =>
              (d.gen, d.base, "delta",
                d.meta.getOrElse("op", ""), d.adds.size.toLong,
                d.removes.size.toLong, d.meta.get("batchId").map(_.toLong), ts)
          }
        }
    rows.toDF("gen", "base", "kind", "op", "num_added", "num_removed",
      "batch_id", "commit_ts")
  }

  /** RESTORE the zone to a past generation's content, committed as a NEW
    * generation — Delta's RESTORE: a manifest-level rollback referencing
    * the old generation's (immutable) files, no data copied or rewritten.
    * History stays intact (the rolled-back generations remain readable
    * until vacuum), and because the restored files are referenced by the
    * new head again, retention keeps them alive going forward. Fails if
    * `gen`'s manifest is already vacuumed. Restore names a FIXED
    * generation's content, so a lost race just rebases — there is nothing
    * stale to recompute (rivals committed after the race simply lose that
    * race's rows to the rollback, which is restore's stated meaning). */
  def restore(spark: SparkSession, zone: String, gen: Long): Snapshot = {
    val target = snapshotAt(spark, zone, gen).getOrElse(
      sys.error(s"$zone generation $gen is gone (vacuumed?) — cannot restore"))
    commit[Snapshot](spark, zone, "restore", latest(spark, zone).getOrElse(init(spark, zone)),
      Rebase) { head =>
      if (head.gen == gen) Finish(Some(head)) // restoring to the head is a no-op
      // carry the head's operational meta (e.g. the streaming batchId
      // high-water mark) but the TARGET's schema, stats, and COLUMN
      // MAPPING (the restored files' physical layout is the target's —
      // the head's mapping may describe files this commit abandons).
      // The target's pending key files come back with its files: its key
      // and data generations keep their order, and every later key file
      // outranks them all
      else Publish(target.copy(meta = (head.meta -- ColMapMetaKeys) ++
          target.meta.get("schema").map("schema" -> _).toMap ++
          target.meta.view.filterKeys(ColMapMetaKeys.contains).toMap ++
          Map("op" -> "restore")),
        Nil, identity)
    }
  }

  /** Change feed for APPEND-ONLY zones: the rows committed after
    * `fromGen`, up to and including `toGen` (default: the head) — read
    * by FILE DIFF, so an incremental consumer (a maintained aggregate, a
    * downstream sync) pays for the delta, never the zone. This is sound
    * only while every intervening commit strictly ADDED files; a
    * replace/compact/merge/delete in the window rewrites history and the
    * diff would double- or under-count — detected (the old generation
    * holds a file the new one dropped) and rejected loudly. Both
    * manifests must still be within vacuum retention. */
  def appendedBetween(spark: SparkSession, zone: String, fromGen: Long,
                      toGen: Long = Long.MaxValue): DataFrame = {
    val (to, added) = appendedFilesBetween(spark, zone, fromGen, toGen)
    if (added.isEmpty)
      readSnapshot(spark, zone, to).filter(org.apache.spark.sql.functions.lit(false))
    else loadFiles(spark, zone, to, added)
  }

  /** File-level form of [[appendedBetween]]: the `to` snapshot plus the
    * RELATIVE paths of the files generations (fromGen, toGen] added —
    * same resolution and same loud append-only contract. The streaming
    * source consumes this form so its scan can prune the added-file list
    * against the snapshot's committed column stats before opening
    * anything. */
  def appendedFilesBetween(spark: SparkSession, zone: String, fromGen: Long,
                           toGen: Long = Long.MaxValue): (Snapshot, Seq[String]) = {
    val head = latest(spark, zone).getOrElse(
      sys.error(s"$zone has no transaction log"))
    val to =
      if (toGen == Long.MaxValue || toGen == head.gen) head
      else snapshotAt(spark, zone, toGen).getOrElse(
        sys.error(s"$zone generation $toGen is gone (vacuumed?) — cannot diff"))
    val from = snapshotAt(spark, zone, fromGen).getOrElse(
      sys.error(s"$zone generation $fromGen is gone (vacuumed?) — cannot diff"))
    val toSet = to.files.toSet
    val dropped = from.files.filterNot(toSet)
    require(dropped.isEmpty,
      s"$zone is not append-only between gen $fromGen and gen ${to.gen}: " +
        s"${dropped.size} file(s) were rewritten (compact/replace/merge/delete) — " +
        "an incremental file-diff read would be wrong; re-read the full snapshot")
    // a merge-on-read commit adds files AND deletes keys of older ones:
    // the diff would serve its rows but miss its deletes
    val newKeys = to.keys.keySet -- from.keys.keySet
    require(newKeys.isEmpty,
      s"$zone is not append-only between gen $fromGen and gen ${to.gen}: " +
        s"${newKeys.size} merge-on-read commit(s) deleted keys — an " +
        "incremental file-diff read would miss the deletes; re-read the full snapshot")
    val fromSet = from.files.toSet
    (to, to.files.filterNot(fromSet))
  }

  /** Exactly-once micro-batch append for Structured Streaming: commit
    * `df` tagged with `batchId`, skipping batches at or below the zone's
    * committed high-water mark — a replayed batch (restart re-running the
    * last uncommitted-to-the-SINK trigger) becomes a no-op instead of a
    * duplicate. The mark rides IN the manifest, so data + mark commit in
    * the same atomic publish (the standard idempotent-foreachBatch
    * contract; one streaming query per zone — concurrent writers of the
    * SAME batchId are outside Structured Streaming's model). Returns true
    * when the batch was appended, false when skipped as already
    * committed. */
  def exactlyOnceAppend(spark: SparkSession, zone: String, df: DataFrame,
                        batchId: Long, statsCols: Seq[String] = Nil): Boolean =
    appendImpl(spark, zone, df, Map.empty, statsCols, Some(batchId)).isDefined

  /** `writeStream.foreachBatch(TxLog.streamSink(zone))` — the
    * exactly-once lake sink. */
  def streamSink(zone: String): (DataFrame, Long) => Unit = (df, batchId) => {
    exactlyOnceAppend(df.sparkSession, zone, df, batchId): Unit
  }

  /** Compact the newest snapshot into ~targetBytes files, published as a
    * new generation. Readers of the old snapshot are untouched — their
    * files stay on disk until [[vacuum]] retention passes them. A lost
    * publish race (concurrent append/compact) ABORTS and removes the
    * rewrite: recompacting a stale base could drop the winner's rows.
    * Pending key deletes are FOLDED: the rewrite reads the live rows and
    * the commit drops the key files, even when the file count alone
    * would skip the rewrite. A zone that takes keyed merges (its
    * `merge.key`) is written range-clustered by that key, the fold's
    * layout; any other zone keeps the plain repartition.
    * `prePublishHook` is a test seam between data write and publish. */
  def compact(spark: SparkSession, zone: String, targetBytes: Long = 128L << 20,
              prePublishHook: () => Unit = () => ()): CompactStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val head = latest(spark, zone).getOrElse(init(spark, zone))
    val bytes = committedBytes(fs(spark, zone), zone, head)
    val wantFiles = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
    def unchanged = CompactStats(head.gen, head.files.size.toLong, head.files.size.toLong,
      bytes, rewritten = false)
    if (head.files.size <= wantFiles && !head.pendingDeletes) return unchanged
    val live = readSnapshot(spark, zone, head)
    val out = head.meta.get(MergeKeyMeta).filter(live.columns.contains) match {
      case Some(k) => live.repartitionByRange(wantFiles.toInt, live.col(k))
        .sortWithinPartitions(live.col(k))
      case None => live.repartition(wantFiles.toInt)
    }
    // every live row deleted by pending keys: nothing to write; a
    // stats-tracked zone recomputes per-file stats for the rewrite
    val files =
      if (head.files.isEmpty) Staged(Nil, Nil, Map.empty)
      else stage(spark, zone, head.format, out, effectiveStatsCols(Nil, head.meta))
    // meta carries forward: compaction must not erase e.g. the streaming
    // sink's batchId high-water mark. The column mapping RESETS: the
    // rewrite read logically and wrote every live file under logical
    // names — maintenance normalizes the physical layout for free.
    commit[CompactStats](spark, zone, "compact", head, Pinned(() => unchanged),
      prePublishHook) { h =>
      Publish(files.asZone(h, (h.meta -- ColMapMetaKeys) ++ Map("op" -> "compact")), files.dirs,
        s => CompactStats(s.gen, head.files.size.toLong, files.files.size.toLong,
          bytes, rewritten = true))
    }
  }

  /** Compact AND re-cluster in one rewrite — Delta's `OPTIMIZE ... ZORDER
    * BY`: the zone's live rows are Z-ordered on `cols`
    * ([[Layout.clusterByZ]]) into ~`targetBytes` files and published as
    * a new generation with fresh per-file stats. Appends scatter a key
    * space across files over time (every file's min/max widens until
    * range pruning degenerates to a full scan — exactly at the scale it
    * matters); this maintenance pass restores TIGHT per-file bounds on
    * every clustered column at once, so [[readWhereCols]]' stats
    * intersection prunes sharply again. `bits` is the per-column budget
    * of the interleaved z-value; columns must be numeric and
    * non-negative after the caller's own bucketing (the [[Layout]]
    * contract). Unlike [[compact]] this always rewrites (re-clustering
    * is the point, not file-count reduction); the same lost-race abort
    * applies. */
  def compactClustered(spark: SparkSession, zone: String, cols: Seq[String],
                       bits: Int = 10, targetBytes: Long = 128L << 20): CompactStats = {
    require(cols.nonEmpty, "compactClustered needs at least one cluster column")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val head = latest(spark, zone).getOrElse(init(spark, zone))
    if (head.files.isEmpty)
      return CompactStats(head.gen, 0L, 0L, 0L, rewritten = false)
    val bytes = committedBytes(fs(spark, zone), zone, head)
    val wantFiles = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong).toInt
    val statsCols = (effectiveStatsCols(Nil, head.meta) ++ cols).distinct
    val files = stage(spark, zone, head.format,
      Layout.clusterByZ(readSnapshot(spark, zone, head), cols, bits, wantFiles), statsCols)
    // mapping resets with the rewrite, like compact
    val meta = (head.meta -- ColMapMetaKeys) ++
      (if (statsCols.nonEmpty) Map("stats.cols" -> statsCols.mkString(",")) else Map.empty)
    commit[CompactStats](spark, zone, "compactClustered", head,
      Pinned(() => CompactStats(head.gen, head.files.size.toLong, head.files.size.toLong,
        bytes, rewritten = false))) { h =>
      Publish(files.asZone(h, meta ++ Map("op" -> "compactClustered")), files.dirs,
        s => CompactStats(s.gen, head.files.size.toLong, files.files.size.toLong, bytes,
          rewritten = true))
    }
  }

  /** Delete data files referenced ONLY by generations older than the
    * newest `keepGens`, plus those generations' manifests. Never touches
    * the files of a kept snapshot, and never touches files younger than
    * `graceMs`: an in-flight append/compact/replace has written its
    * d-<uuid> files but not yet published, so an unreferenced-but-fresh
    * file is most likely a commit in progress, not garbage (the same
    * reasoning as Delta's retention window). Pick `graceMs` above the
    * longest plausible write-to-publish gap. */
  def vacuum(spark: SparkSession, zone: String, keepGens: Int = 2,
             graceMs: Long = 15L * 60L * 1000L): Long = {
    require(keepGens >= 1, s"keepGens must be >= 1, got $keepGens")
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val f = fs(spark, zone)
    val root = f.makeQualified(new Path(zone))
    val dir = new Path(root, LogDir)
    if (!f.exists(dir)) return 0L
    val listing = f.listStatus(dir).toSeq
    val manifests = listing
      .filter(_.getPath.getName.startsWith("gen-")).sortBy(_.getPath.getName)
    val chks = listing
      .filter(_.getPath.getName.startsWith("chk-")).sortBy(_.getPath.getName)
    val cutoff = System.currentTimeMillis() - graceMs
    // torn manifests get the PUBLISH-side grace floor regardless of the
    // caller's graceMs: a torn-looking file younger than that window may
    // be a publish whose body is still streaming, and deleting its
    // manifest would lose an acknowledged commit
    val tornCutoff =
      System.currentTimeMillis() - math.max(graceMs, TornManifestGraceMs)
    // Retention counts COMPLETE manifests only: a crash-torn newest
    // manifest must not occupy a retention slot (with keepGens=1 it would
    // make `live` empty and vacuum would delete the newest real
    // generation's data). Torn manifests are not snapshots — they are
    // GC'd once past the torn grace floor (fresher ones may be a publish
    // in progress; the publish-side skip-forward handles the wedge case).
    val parsed = manifests.map(st => (st, readCommit(f, st.getPath)))
    val complete = parsed.collect { case (st, Some(c)) => (st, c) }
    val tornDrops = parsed.collect {
      case (st, None) if st.getModificationTime < tornCutoff => st.getPath
    }
    // with no complete manifest at all, liveness is unknowable — GC torn
    // manifests but leave every data file and checkpoint in place
    if (complete.isEmpty) {
      tornDrops.foreach(f.delete(_, false))
      return 0L
    }
    val keep = complete.takeRight(keepGens)
    val oldestKept = keep.head._2.gen
    // RESOLVE every kept generation up front: the live set and the GC
    // anchor both come from full reconstructions, and if any kept chain
    // is unreadable the only safe move is to delete nothing but torn
    // corpses (a partial live set would GC referenced data files).
    val keptSnaps = keep.map { case (_, c) => resolveSnapshot(f, zone, c.gen) }
    if (keptSnaps.exists(_.isEmpty)) {
      tornDrops.foreach(f.delete(_, false))
      return 0L
    }
    // LOG GC (the checkpoint-fold): make the oldest kept generation an
    // ANCHOR — if it is a delta commit without a checkpoint, write
    // chk-<oldestKept> from its resolved state NOW, before anything
    // below it is dropped — then every older delta commit, full
    // manifest, and checkpoint is fold-superseded and can go. This is
    // what bounds the log dir: a year of 60 s streaming commits stays
    // ≤ keepGens + interval manifests after each vacuum, and `latest`
    // stays O(pointer + tail) instead of O(history).
    val oldestSnap = keptSnaps.head.get
    val needAnchor = keep.head._2 match {
      case _: DeltaCommit => readCommit(f, chkPath(zone, oldestKept)).isEmpty
      case _ => false
    }
    if (needAnchor) writeCheckpoint(f, zone, oldestSnap)
    else writePointer(f, zone, oldestKept)
    // verify the anchor actually landed before dropping the chain below
    val anchored = keep.head._2.isInstanceOf[FullCommit] ||
      readCommit(f, chkPath(zone, oldestKept)).nonEmpty
    val dropManifests =
      if (anchored) complete.collect {
        case (st, c) if c.gen < oldestKept => st.getPath
      } ++ tornDrops
      else tornDrops
    // multi-part checkpoint shards (`chp-<gen>-<i>-of-<n>`) GC with
    // their generation, exactly like the base chk- file
    val chpGen: Path => Option[Long] = p => {
      val nm = p.getName
      if (!nm.startsWith("chp-")) None
      else scala.util.Try(nm.stripPrefix("chp-").take(20).toLong).toOption
    }
    val dropChks =
      if (anchored)
        chks.map(_.getPath).filter(p => pathGen(p).exists(_ < oldestKept)) ++
          listing.map(_.getPath).filter(p => chpGen(p).exists(_ < oldestKept))
      else Nil
    // a kept generation needs its data files AND its pending key files
    val live: Set[String] =
      keptSnaps.flatMap(s => s.get.files ++ s.get.keys.keys).toSet
    // only files under d-* (data) and k-* (key) write dirs are
    // vacuum-managed; gen-0 root files from init() predate the log and
    // are left alone
    var removed = 0L
    f.listStatus(root).filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("d-") || s.getPath.getName.startsWith("k-")))
      .foreach { d =>
        val it = f.listFiles(d.getPath, true)
        val rootPath = root.toUri.getPath.stripSuffix("/")
        while (it.hasNext) {
          val st = it.next()
          val rel = st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".") &&
              !live.contains(rel) && st.getModificationTime < cutoff) {
            if (f.delete(st.getPath, false)) removed += 1
          }
        }
        if (listRel(f, root, d.getPath).isEmpty) f.delete(d.getPath, true)
      }
    (dropManifests ++ dropChks).foreach(f.delete(_, false))
    removed
  }
}
