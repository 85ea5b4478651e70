package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Cdc, FullLoad}
import graft.sources.Tables
import graft.streaming.CdcStream

/** A17 "pipeline compilation" (SURVEY §2.1 / §3.3): the reference's
  * CDK lifecycle — construct tree (config) -> synth (plan) -> deploy
  * (execute) — re-expressed as typed config -> lazy DataFrame/stream plan
  * -> action. Validation errors surface at plan time, like CDK synth
  * (`bin/dynamodb-streaming-datalake.ts:28-68`, `cdk.json:2`).
  */
object Pipeline {

  /** CDC-zone pipeline config (the producer stack's knobs, stack.ts):
    * buffering interval = Firehose buffer (`stack.ts:211-214`), layout
    * prefixes (`stack.ts:38,221-222`). */
  final case class CdcSpec(
      inputPath: String,
      lakePath: String,
      errorPath: String,
      checkpointPath: String,
      triggerSeconds: Long = 60L,
      maxFilesPerTrigger: Option[Int] = None,
      wallClockIngestion: Boolean = false) {
    def validate(): Unit = {
      require(inputPath.nonEmpty && lakePath.nonEmpty && errorPath.nonEmpty &&
        checkpointPath.nonEmpty, "all CDC paths must be non-empty")
      require(triggerSeconds > 0, s"trigger must be positive, got $triggerSeconds")
      require(Seq(lakePath, errorPath, checkpointPath).distinct.size == 3,
        "lake/error/checkpoint paths must be distinct")
    }
  }

  /** Full-load pipeline config (the consumer stack: fleet shape drives the
    * scan split count, `ddb_full_load.py:39-47`; output partitions
    * `:67-69`). */
  final case class FullLoadSpec(
      sourcePath: String,
      destPath: String,
      workerType: String = "Standard",
      numWorkers: Int = 1,
      outputPartitions: Option[Int] = None) {
    def validate(): Unit = {
      require(sourcePath.nonEmpty && destPath.nonEmpty, "paths must be non-empty")
      require(numWorkers >= 1, s"numWorkers must be >= 1, got $numWorkers")
    }
    def splits: Int = FullLoad.splitCount(workerType, numWorkers)
  }

  /** Planned (synth'd) CDC pipeline: lazy, nothing runs until start(). */
  final class CdcPlan private[Pipeline] (spark: SparkSession, spec: CdcSpec) {
    private val clock: Option[Column] =
      if (spec.wallClockIngestion) Some(current_timestamp()) else None

    /** Execute until all currently-available input is processed. */
    def runOnce(): Unit = {
      val parsed = CdcStream.source(spark, spec.inputPath, spec.maxFilesPerTrigger)
      val q = CdcStream.pipeline(parsed, spec.lakePath, spec.errorPath,
        spec.checkpointPath, Trigger.AvailableNow(), clock).start()
      q.awaitTermination()
    }

    /** Execute continuously on the configured micro-batch interval. */
    def start(): org.apache.spark.sql.streaming.StreamingQuery = {
      val parsed = CdcStream.source(spark, spec.inputPath, spec.maxFilesPerTrigger)
      CdcStream.pipeline(parsed, spec.lakePath, spec.errorPath,
        spec.checkpointPath,
        Trigger.ProcessingTime(s"${spec.triggerSeconds} seconds"), clock).start()
    }

    private def pathExists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }

    /** The lake read model over what this pipeline has written. Partition
      * columns (year/month/day/hour) survive via basePath so consumers can
      * prune by hour — the entire point of the A13 layout; the ingestion
      * clock is restored to TimestampType from its ISO JSON form. Before
      * the first batch lands this is an empty frame, not a read error. */
    def lakeZone(): DataFrame = {
      import org.apache.spark.sql.functions._
      if (!pathExists(spec.lakePath)) spark.emptyDataFrame
      else spark.read.option("basePath", spec.lakePath)
        .json(s"${spec.lakePath}/year=*/month=*/day=*/hour=*")
        .withColumn("ingestion_timestamp", to_timestamp(col("ingestion_timestamp")))
    }

    /** Empty frame (not PATH_NOT_FOUND) when no batch has had errors —
      * the normal case a health check probes. */
    def errorZone(): DataFrame =
      if (!pathExists(spec.errorPath)) spark.emptyDataFrame
      else spark.read.json(spec.errorPath)

    def snapshot(): DataFrame = {
      // Tiebreaker for equal ingestion timestamps must be deterministic
      // across runs; monotonically_increasing_id() depends on how the scan
      // bin-packs files, so ties would flip between runs. Content order
      // (the serialized attrs + event) is stable, and rows that tie on it
      // are byte-identical — either winner is the same row. (The JSON
      // source exposes no _metadata.row_index to use instead.)
      Cdc.snapshot(lakeZone(), Seq("id", "name"),
        Seq("ingestion_timestamp", "attrs_json", "Event"))
    }

    /** Lake maintenance: compact the append-only CDC zone into a columnar
      * snapshot table (the reference's full-load zone shape, A5/A6 applied
      * to the CDC read model) — overwrite parquet keyed by the table key. */
    def compact(destPath: String,
                outputPartitions: Int = Runtime.getRuntime.availableProcessors()): Unit =
      FullLoad.run(snapshot(), destPath, outputPartitions)
  }

  final class FullLoadPlan private[Pipeline] (spark: SparkSession, spec: FullLoadSpec) {
    def run(): Unit = {
      val src = Tables.load(spark, spec.sourcePath)
        .repartition(spec.splits) // the reference's scan-split parallelism (A1/A2)
      FullLoad.run(src, spec.destPath,
        spec.outputPartitions.getOrElse(Runtime.getRuntime.availableProcessors()))
    }
    def readBack(): DataFrame = FullLoad.readBack(spark, spec.destPath)
  }

  /** Training-corpus pipeline config — the engine's extension axis (the
    * north-star training-data ops) composed under the same A17 lifecycle:
    * quality gate -> exact dedup -> near-dup cluster dedup -> deterministic
    * splits -> split-partitioned lake write. Every stage is one of the
    * tested operators; the plan is lazy end-to-end. */
  final case class TrainingSpec(
      sourcePath: String,
      destPath: String,
      // idCol must be an INTEGRAL column when nearDupJaccard is set: the
      // near-dup stage labels duplicate clusters via
      // Dedup.connectedComponents, whose node ids are longs (it require-
      // fails loudly on non-integral ids). Hash free-form string ids to an
      // integral column first (e.g. HashFunctions.h32).
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.0,
      dedupExact: Boolean = true,
      nearDupJaccard: Option[Double] = Some(0.8),
      splits: Seq[(String, Double)] = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
      // post-write maintenance: compact each split partition to ~this many
      // bytes per file (None = leave the writer's file layout as-is)
      compactTargetBytes: Option[Long] = None,
      // write each split through the transaction log (one TxLog zone per
      // split directory): corpus refreshes become atomic per split — a
      // reader mid-refresh keeps the previous complete generation instead
      // of racing mode("overwrite")'s delete+write window
      useTxLog: Boolean = false) {
    def validate(): Unit = {
      require(sourcePath.nonEmpty && destPath.nonEmpty, "paths must be non-empty")
      require(minQuality >= 0.0 && minQuality <= 1.0, s"minQuality in [0,1], got $minQuality")
      nearDupJaccard.foreach(t =>
        require(t > 0.0 && t <= 1.0, s"near-dup threshold in (0,1], got $t"))
      require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
        "split weights must sum to 1")
      compactTargetBytes.foreach(b =>
        require(b > 0, s"compactTargetBytes must be positive, got $b"))
    }
  }

  final class TrainingPlan private[Pipeline] (spark: SparkSession, spec: TrainingSpec) {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Splits, TextAnalysis}

    /** The lazy cleaned/dedup'd/split corpus. Stage order is the cheap-
      * first scale order: the quality gate is map-side (one scan, no
      * shuffle) and shrinks everything downstream; exact dedup is one
      * hash-shuffle; near-dup (LSH + cluster labels) only ever sees the
      * exact-dedup survivors. Survivor policy is lowest id, at every
      * stage — deterministic end to end. */
    def corpus(): DataFrame = {
      val id = col(spec.idCol)
      var docs = Tables.load(spark, spec.sourcePath)
      if (spec.minQuality > 0.0)
        docs = docs.filter(
          TextAnalysis.qualityScore(TextAnalysis.tokens(col(spec.textCol))) >= spec.minQuality)
      if (spec.dedupExact) {
        val canon = Dedup.exactGroups(docs, spec.idCol, spec.textCol)
          .select(col("canonical_id").as(spec.idCol))
        docs = docs.join(canon, spec.idCol :: Nil, "left_semi")
      }
      spec.nearDupJaccard.foreach { t =>
        val pairs = Dedup.minhashNearDups(docs, spec.idCol, spec.textCol, threshold = t)
        val losers = Dedup.connectedComponents(pairs)
          .filter(col("node") =!= col("label"))   // cluster minimum survives
          .select(col("node").as(spec.idCol))
        docs = docs.join(losers, spec.idCol :: Nil, "left_anti")
      }
      Splits.assignSplit(docs, spec.idCol, spec.splits)
    }

    /** Write the corpus split-partitioned (train/valid/test directories are
      * the lake layout consumers prune on), then optionally compact each
      * split partition — the bounded per-partition rewrite unit, so a
      * consumer reading one split never races a whole-zone swap. With
      * `useTxLog` each split directory is a [[graft.operators.TxLog]]
      * zone refreshed via `replace` — the fully atomic form. */
    def run(): Unit = {
      if (spec.useTxLog) {
        // materialize once: the per-split writes would otherwise re-run
        // the whole dedup pipeline per split
        val c = corpus().localCheckpoint(true)
        spec.splits.foreach { case (name, _) =>
          val part = c.filter(col("split") === name).drop("split")
          // the split's schema rides in the manifest: a zone whose refresh
          // landed zero rows (tiny corpus × small weight) stays readable
          // as a TYPED empty relation instead of a zero-column frame
          graft.operators.TxLog.replace(spark, splitZone(name), part,
            meta = Map("schema.ddl" -> part.schema.toDDL))
        }
        spec.compactTargetBytes.foreach { target =>
          spec.splits.foreach { case (name, _) =>
            graft.operators.TxLog.compact(spark, splitZone(name), targetBytes = target)
          }
        }
      } else {
        corpus().write.mode("overwrite").partitionBy("split").parquet(spec.destPath)
        spec.compactTargetBytes.foreach { target =>
          spec.splits.foreach { case (name, _) =>
            graft.operators.Compaction.compactPartition(
              spark, spec.destPath, s"split=$name", targetBytes = target)
          }
        }
      }
    }

    private def splitZone(name: String): String =
      spec.destPath.stripSuffix("/") + s"/split=$name"

    def readBack(): DataFrame =
      if (spec.useTxLog) {
        val frames = spec.splits.flatMap { case (name, _) =>
          val zone = splitZone(name)
          val df = graft.operators.TxLog.read(spark, zone)
          if (df.schema.nonEmpty) Some(df.withColumn("split", lit(name)))
          else
            // zero-file snapshot reads as a zero-column frame, which would
            // poison the union; rebuild the typed empty relation from the
            // schema committed in the manifest (pre-schema-meta zones with
            // no data contribute nothing and are skipped)
            graft.operators.TxLog.latest(spark, zone)
              .flatMap(_.meta.get("schema.ddl")).map { ddl =>
                spark.createDataFrame(
                  spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  org.apache.spark.sql.types.StructType.fromDDL(ddl))
                  .withColumn("split", lit(name))
              }
        }
        require(frames.nonEmpty,
          s"no split zone under ${spec.destPath} has data or a recorded schema")
        frames.reduce(_.unionByName(_))
      } else Tables.load(spark, spec.destPath)
  }

  /** The DURABLE end-to-end training lake (round-12 directive #5): the
    * reference stack's current-state zone (fake-DDB full load → shard
    * CDC → merge sink, ReferenceStackSpec's loop) extended with the LLM
    * tier — quality gate → dedup (exact + adaptive pair-stats
    * containment + MinHash/LSH clusters) → deterministic splits →
    * sequence packing — as STAGED TxLog zones under `lakeDir`:
    *
    *   <lakeDir>/gated      quality-gate survivors
    *   <lakeDir>/deduped    three-tier dedup survivors
    *   <lakeDir>/split=<s>  split-partitioned training corpus
    *   <lakeDir>/packed     (split, bin, doc_id, n_tok) packing plan
    *
    * Every stage is a replace-committed, TIME-TRAVELABLE table, and
    * every stage records the upstream generation it was computed from
    * (`stage.srcgen` meta) — re-running the plan is a WATERMARK RESUME:
    * a stage whose upstream has not moved is skipped (its zone keeps its
    * generation), so a restart after a crash, or a re-run after new CDC
    * merges land, recomputes exactly the stale suffix of the DAG.
    * Dedup survivor policy is lowest id at every tier, deterministic
    * end to end. */
  final case class LakeSpec(
      srcZone: String,
      lakeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.0,
      containment: Double = 0.8,
      nearDupJaccard: Double = 0.8,
      splits: Seq[(String, Double)] = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
      packCapacity: Long = 512L,
      semantic: Option[SemanticSpec] = None) {
    def validate(): Unit = {
      require(srcZone.nonEmpty && lakeDir.nonEmpty, "paths must be non-empty")
      require(minQuality >= 0.0 && minQuality <= 1.0, s"minQuality in [0,1], got $minQuality")
      require(containment > 0.0 && containment <= 1.0, s"containment in (0,1], got $containment")
      require(nearDupJaccard > 0.0 && nearDupJaccard <= 1.0,
        s"near-dup threshold in (0,1], got $nearDupJaccard")
      require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
        "split weights must sum to 1")
      require(packCapacity >= 1L, s"packCapacity must be >= 1, got $packCapacity")
      semantic.foreach(_.validate())
    }
  }

  /** The optional SEMANTIC dedup tier of [[LakeSpec]] (SemDeDup, Abbas
    * et al. 2023 — the q184 pattern): drop a textual-dedup survivor iff
    * a LOWER-id survivor's embedding reaches `threshold` cosine inside
    * the same IVF cell. The cells come from the lake's OWN persistent
    * ANN index artifact (`<lakeDir>/annindex`, [[graft.operators.AnnIndex]])
    * — built once, refreshed incrementally as the embedding zone grows —
    * never a per-run k-means retrain. `embZone` is a TxLog zone keyed by
    * the SAME id column as the documents. */
  final case class SemanticSpec(
      embZone: String,
      threshold: Double = 0.95,
      vecCol: String = "embedding",
      maxCell: Int = 1024) {
    def validate(): Unit = {
      require(embZone.nonEmpty, "semantic.embZone must be non-empty")
      require(threshold > 0.0 && threshold <= 1.0,
        s"semantic threshold in (0,1], got $threshold")
      require(maxCell >= 1, s"maxCell must be >= 1, got $maxCell")
    }
  }

  final class LakePlan private[Pipeline] (spark: SparkSession, spec: LakeSpec) {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, GlobalOrder, Splits, TextAnalysis, TxLog}

    private def zone(name: String): String =
      spec.lakeDir.stripSuffix("/") + "/" + name
    def gatedZone: String = zone("gated")
    def dedupedZone: String = zone("deduped")
    def semDedupedZone: String = zone("semdeduped")
    def annIndexDir: String = zone("annindex")
    def splitZone(name: String): String = zone(s"split=$name")
    def packedZone: String = zone("packed")

    /** Replace-commit `zoneDir` from `compute` UNLESS its recorded
      * watermark already matches BOTH the upstream watermark AND the
      * stage's config fingerprint — the stage-level resume that makes
      * the whole plan restartable. The `conf` guard matters: a re-run
      * with a changed knob (a new containment threshold, different
      * split weights) must RECOMPUTE, never skip-serve results computed
      * under the old config. The watermark is a STRING naming every
      * upstream component (`zone:gen` pairs), not a bare sum: summed
      * generations collide — e.g. dropping a split while its sibling
      * zones advance can re-produce the same sum and skip-serve a
      * stale plan (round-12 ADVICE). Returns the stage's (possibly
      * pre-existing) head generation, a component of the next stage's
      * watermark. */
    private def stage(zoneDir: String, upstream: String, conf: String)
                     (compute: => DataFrame): Long = {
      val current = TxLog.latest(spark, zoneDir)
        .filter(h => h.meta.get("stage.srcgen").contains(upstream)
          && h.meta.get("stage.conf").contains(conf))
      current.map(_.gen).getOrElse {
        val out = compute
        TxLog.replace(spark, zoneDir, out,
          meta = Map("stage.srcgen" -> upstream,
            "stage.conf" -> conf,
            "schema.ddl" -> out.schema.toDDL)).gen
      }
    }

    /** Run (or resume) the staged pipeline; every stage zone ends
      * consistent with the source zone's current generation. */
    def run(): Unit = {
      val id = col(spec.idCol)
      val srcHead = TxLog.latest(spark, spec.srcZone).getOrElse(
        sys.error(s"training lake: ${spec.srcZone} has no transaction log"))

      // 1) quality gate: map-side, shrinks everything downstream
      val gatedGen = stage(gatedZone, s"src:${srcHead.gen}",
          s"minQuality=${spec.minQuality}") {
        val docs = TxLog.readSnapshot(spark, spec.srcZone, srcHead)
        if (spec.minQuality <= 0.0) docs
        else docs.filter(TextAnalysis.qualityScore(
          TextAnalysis.tokens(col(spec.textCol))) >= spec.minQuality)
      }

      // 2) three-tier dedup, cheap-first: exact (one hash shuffle), then
      //    adaptive pair-stats containment (self-tuning df cap — the
      //    directive-#1 knob), then LSH near-dup clusters; each tier only
      //    sees the previous tier's survivors
      val dedupedGen = stage(dedupedZone, s"gated:$gatedGen",
          s"containment=${spec.containment};jaccard=${spec.nearDupJaccard}") {
        var docs = TxLog.read(spark, gatedZone)
        val canon = Dedup.exactGroups(docs, spec.idCol, spec.textCol)
          .select(col("canonical_id").as(spec.idCol))
        docs = docs.join(canon, spec.idCol :: Nil, "left_semi")
        // containment: each pair yields at most one loser — the contained
        // side; a MUTUALLY contained pair keeps the lowest id
        val st = Dedup.pairStatsAdaptive(docs, spec.idCol, spec.textCol)
        val ca = round(col("inter").cast("double") / col("n_a"), 4)
        val cb = round(col("inter").cast("double") / col("n_b"), 4)
        val t = spec.containment
        val contained = st.select(
          when(ca >= t && (cb < t || col("a_id") > col("b_id")), col("a_id"))
            .when(cb >= t, col("b_id")).as(spec.idCol))
          .filter(id.isNotNull).distinct()
        docs = docs.join(contained, spec.idCol :: Nil, "left_anti")
        val pairs = Dedup.minhashNearDups(docs, spec.idCol, spec.textCol,
          threshold = spec.nearDupJaccard)
        val losers = Dedup.connectedComponents(pairs)
          .filter(col("node") =!= col("label")) // cluster minimum survives
          .select(col("node").as(spec.idCol))
        docs.join(losers, spec.idCol :: Nil, "left_anti")
      }

      // 2b) optional SEMANTIC tier: SemDeDup over the textual survivors,
      //    served from the lake's persistent ANN index artifact
      //    (<lakeDir>/annindex) — index maintenance (first build /
      //    incremental refresh) runs OUTSIDE the stage skip so the index
      //    tracks the embedding zone, while the stage itself watermarks
      //    on BOTH upstreams (deduped gen + index codes gen): new
      //    embeddings or a rebuilt index recompute the tier, an idle
      //    re-run skips it
      val (preSplitZone, preSplitMark) = spec.semantic match {
        case None => (dedupedZone, s"deduped:$dedupedGen")
        case Some(sem) =>
          import graft.operators.{AnnIndex, Similarity}
          val codesZone = AnnIndex.codesZone(annIndexDir)
          if (TxLog.latest(spark, codesZone).isEmpty)
            AnnIndex.build(spark, annIndexDir, sem.embZone,
              idCol = spec.idCol, vecCol = sem.vecCol)
          else
            // maintain = incremental refresh + the automated rebuild
            // trigger: embedding appends the frozen quantizer no longer
            // describes (centroid drift) or corpus growth past 2× retrain
            // the index as part of the plan run — a long-lived lake can't
            // silently probe a stale quantizer
            AnnIndex.maintain(spark, annIndexDir,
              idCol = spec.idCol, vecCol = sem.vecCol)
          val idxGen = TxLog.latest(spark, codesZone).get.gen
          val g = stage(semDedupedZone, s"deduped:$dedupedGen;codes:$idxGen",
              s"semthreshold=${sem.threshold};embzone=${sem.embZone};" +
                s"maxcell=${sem.maxCell}") {
            val docs = TxLog.read(spark, dedupedZone)
            val h = AnnIndex.load(spark, annIndexDir)
            // decide among textual SURVIVORS only (a doc must not lose to
            // a twin the textual tiers already removed), over the
            // INDEXED embedding era (the generation the codes cover)
            val emb = AnnIndex.indexedCorpus(spark, annIndexDir)
              .join(docs.select(id), spec.idCol :: Nil, "left_semi")
            val losers = Similarity.semDedupKeep(emb, sem.threshold,
                h.centroids, spec.idCol, sem.vecCol, sem.maxCell)
              .filter(col("kept") === 0).select(id)
            docs.join(losers, spec.idCol :: Nil, "left_anti")
          }
          (semDedupedZone, s"semdeduped:$g")
      }

      // 3) deterministic md5 splits, one zone per split (the lake layout
      //    consumers prune on); materialize LAZILY and once — the first
      //    split stage that actually recomputes pays the checkpoint, the
      //    rest share it, and an idle re-run (every stage skipping on its
      //    watermark) never touches the data at all
      var assignedComputed = false
      lazy val assigned = {
        assignedComputed = true
        Splits.assignSplit(
          TxLog.read(spark, preSplitZone), spec.idCol, spec.splits)
          .localCheckpoint(true)
      }
      val splitsConf = spec.splits.map { case (n, w) => s"$n=$w" }.mkString(",")
      val splitGens = spec.splits.map { case (name, _) =>
        name -> stage(splitZone(name), preSplitMark, splitsConf) {
          assigned.filter(col("split") === name).drop("split")
        }
      }
      if (assignedComputed) graft.operators.Lineage.free(assigned)

      // 4) sequence packing per split: bin = exclusive running token sum
      //    over doc_id order, divided by capacity. The prefix sum is the
      //    range-partitioned GlobalOrder scan (split-major order), made
      //    per-split by subtracting each split's own base offset — no
      //    single-partition window at any width. The watermark names
      //    every split zone with its generation, and the conf carries
      //    the splits list, so a re-planned splits set can never
      //    collide into a skip (round-12 ADVICE: the generation SUM of
      //    (train,valid,test)@(2,2,2) equals (train,valid)@(3,3))
      val packWatermark = splitGens
        .map { case (n, g) => s"$n:$g" }.mkString(",")
      stage(packedZone, packWatermark,
          s"capacity=${spec.packCapacity};splits=$splitsConf") {
        val toks = spec.splits.map { case (name, _) =>
          TxLog.read(spark, splitZone(name))
            .select(lit(name).as("split"), id.as("doc_id"),
              size(TextAnalysis.tokens(col(spec.textCol))).cast("long").as("n_tok"))
        }.reduce(_.unionByName(_))
        val cum = GlobalOrder.exclusiveRunningSum(toks,
          Seq(col("split"), col("doc_id")), "n_tok", "cum_g")
        val base = cum.groupBy("split")
          .agg(min(col("cum_g")).as("cum_base"))
        cum.join(broadcast(base), "split")
          .select(col("split"), col("doc_id"), col("n_tok"),
            floor((col("cum_g") - col("cum_base")).cast("double")
              / spec.packCapacity.toDouble).cast("long").as("bin"))
      }
      ()
    }

    /** The packing plan (split, bin, doc_id, n_tok) at the packed zone's
      * current generation. */
    def packed(): DataFrame = TxLog.read(spark, packedZone)
  }

  /** The CONTINUOUS form of [[LakeSpec]] (round-14 directive #1 — every
    * lake tier had a streaming twin but the composed pipeline existed
    * only in batch): doc stream in → expectations gate → textual dedup
    * (exact md5 claim + signature-VERIFIED MinHash/LSH band claims, one
    * claim processor) →
    * semantic dedup (frozen ANN-index quantizer) → TxLog exactly-once
    * sinks, as TWO chained streaming hops under ONE checkpoint lineage
    * (`checkpointDir/textual`, `checkpointDir/semantic`) mirroring the
    * batch plan's staged zones:
    *
    *   <lakeDir>/stream/deduped   textual first-seen survivors
    *   <lakeDir>/stream/corpus    semantic survivors (the corpus zone)
    *
    * Hop 1 gates + claims; its sink reduces band verdicts per doc
    * (batch-side, the [[graft.streaming.StreamDedup.firstSeen]]
    * contract) and lands survivors exactly-once. Hop 2 STREAMS the
    * deduped zone (the TxLog DSv2 source — offsets in the checkpoint),
    * joins embeddings stream-static, gates through
    * [[graft.streaming.StreamSemDedup]] against the lake's frozen index
    * artifact with the batch sub-split masks, and lands the corpus
    * exactly-once. A restart anywhere resumes from the checkpoints: the
    * claim/cell state is in RocksDB, the zone hand-off is idempotent
    * per batch id, so no doc is lost or doubled.
    *
    * COMPOSED STATE BOUND: hop 1 holds one claim row per distinct
    * in-horizon band/md5 key ((bands+1) · docs-in-horizon worst case);
    * hop 2 holds the in-horizon occupancy of each active (cell, block).
    * Both expire by event-time timers — on a 100 TB/day stream state
    * tracks the horizon, never the corpus.
    *
    * DOCUMENTED deviations from the batch [[LakePlan]] (the online-dedup
    * contract, measured in the equivalence spec and at bench scale in
    * `Probe streamlake`): survivor choice is FIRST-ARRIVAL (== lowest id
    * when arrival is id-ordered, the batch policy); band candidates are
    * verified by the MinHash jaccard ESTIMATE (signature agreement ≥
    * `nearDupJaccard`) where batch verifies exact jaccard — pairs whose
    * estimate and exact value straddle the threshold diverge; the batch
    * containment tier's drop-the-contained-side policy is subsumed only
    * when the contained doc arrives after its superset; component
    * closure through later-arriving docs cannot retract an
    * already-granted verdict; and the semantic sub-split masks derive
    * from the deduped zone's committed SURVIVORS (codes ∩ survivors —
    * the same occupancy batch's ladder sees; round-15 directive #5
    * closed the index-occupancy deviation), exact in the drain form
    * where hop 2 plans after hop 1 commits, frozen at query start in
    * continuous mode (a restart re-derives them; formerly the masks came
    * from the whole indexed corpus, divergent on a mega-cell whose
    * textual-survivor count crosses a ladder rung the indexed count
    * doesn't). */
  final case class StreamingLakeSpec(
      lakeDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      tsCol: String = "ts",
      textCol: String = "text",
      minQuality: Double = 0.0,
      nearDupJaccard: Double = 0.8,
      // the streaming CONTAINMENT tier (round-16: the sf3 composed-plan
      // divergence was measured 100 % containment-class — subset pairs
      // have low jaccard, so no band tier can see them): a doc whose
      // shingle intersection with some single prior in-horizon doc
      // reaches this fraction OF ITS OWN shingles is suppressed, the
      // batch pairStats gate's drop-the-contained-side rule applied to
      // later arrivals. None disables the tier (hop 1's stateful input
      // shrinks from ~|shingles| rows/doc back to bands+1). A pair whose
      // CONTAINED side arrived first stays out of reach — batch drops it
      // regardless of order; retraction is the keyed mode's seam — the
      // spec-pinned irreducible online class.
      containment: Option[Double] = Some(0.8),
      // the batch tier's df cap analog, counted over IN-HORIZON claim
      // instances (batch counts the whole corpus): shingles at or past
      // the cap stop matching and stop claiming
      containmentDfCap: Int = 1024,
      lateness: String = "10 seconds",
      horizonMs: Long = 24L * 3600L * 1000L,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      splits: Seq[(String, Double)] = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
      semantic: Option[StreamingSemanticSpec] = None,
      triggerSeconds: Long = 60L,
      // KEYED-CDC mode (round-15 directive #4): when set, the doc stream
      // carries this op column with the reference's eventName vocabulary
      // (INSERT/MODIFY upsert the key's document, REMOVE retracts it; a
      // null op drops the row) and corpus membership tracks the keyed
      // last-writer-wins state: a MODIFY whose new text fails the gate
      // or duplicates another key's in-horizon document RETRACTS the key,
      // a REMOVE tombstones it, and a doc's own earlier versions never
      // suppress its new one (self-exempt claims). The corpus zone
      // becomes a keyed current-state table (TxLog.cdcChangesSink).
      // Online contract beyond the insert-shaped deviations: claims and
      // cell vectors of superseded/removed versions persist until the
      // horizon passes (a text that existed transiently may suppress an
      // in-horizon twin), and a retraction cannot re-judge a doc that
      // earlier lost to the retracted key.
      opCol: Option[String] = None) {
    def validate(): Unit = {
      require(lakeDir.nonEmpty && checkpointDir.nonEmpty, "paths must be non-empty")
      require(minQuality >= 0.0 && minQuality <= 1.0, s"minQuality in [0,1], got $minQuality")
      require(nearDupJaccard > 0.0 && nearDupJaccard <= 1.0,
        s"near-dup threshold in (0,1], got $nearDupJaccard")
      require(horizonMs > 0, s"horizonMs must be positive, got $horizonMs")
      require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
      require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
        "split weights must sum to 1")
      require(triggerSeconds > 0, s"trigger must be positive, got $triggerSeconds")
      containment.foreach(t =>
        require(t > 0.0 && t <= 1.0, s"containment in (0,1], got $t"))
      require(containmentDfCap >= 2, s"containmentDfCap must be >= 2, got $containmentDfCap")
      opCol.foreach(c => require(c.nonEmpty, "opCol must be non-empty when set"))
      semantic.foreach(_.validate())
    }
  }

  /** The streaming twin of [[SemanticSpec]]: gate against the FROZEN
    * quantizer of the lake's ANN index artifact (`indexDir`, default
    * `<lakeDir>/annindex` — build it once with the batch plan or
    * [[graft.operators.AnnIndex.build]]; the stream NEVER trains).
    * `embZone` joins embeddings stream-static by the doc id (None =
    * `vecCol` already rides the doc stream); docs without an embedding
    * pass the gate kept, the batch null-cell semantics. Scale note: a
    * stream-static join re-reads the static side per trigger — at lake
    * scale carry the embedding ON the doc stream (embZone = None, the
    * enrichment done upstream) so the hop stays scan-free; the zone
    * join is the convenience form for corpora whose embedding table
    * fits a per-trigger scan. */
  final case class StreamingSemanticSpec(
      embZone: Option[String],
      threshold: Double = 0.95,
      vecCol: String = "embedding",
      indexDir: Option[String] = None,
      maxCell: Int = 1024) {
    def validate(): Unit = {
      require(threshold > 0.0 && threshold <= 1.0,
        s"semantic threshold in (0,1], got $threshold")
      embZone.foreach(z => require(z.nonEmpty, "embZone must be non-empty"))
      indexDir.foreach(d => require(d.nonEmpty, "indexDir must be non-empty"))
      require(maxCell >= 1, s"maxCell must be >= 1, got $maxCell")
    }
  }

  final class StreamingLakePlan private[Pipeline] (spark: SparkSession,
                                                   spec: StreamingLakeSpec) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.operators.{AnnIndex, Splits, TextAnalysis, TxLog}
    import graft.streaming.{StreamDedup, StreamExpectations, StreamSemDedup}

    private def zone(name: String): String =
      spec.lakeDir.stripSuffix("/") + "/stream/" + name
    /** Hop 1's hand-off zone: append-only textual survivors, or — in
      * keyed-CDC mode with a semantic tier — the append-only CHANGELOG
      * (doc columns + `_op`) hop 2 applies. */
    def dedupedZone: String = zone("deduped")
    /** The final corpus zone (== the deduped zone for the append-shaped
      * textual-only plan; a keyed current-state table in keyed mode). */
    def corpusZone: String =
      if (spec.semantic.isDefined || spec.opCol.isDefined) zone("corpus")
      else dedupedZone
    def annIndexDir: String = spec.semantic.flatMap(_.indexDir)
      .getOrElse(spec.lakeDir.stripSuffix("/") + "/annindex")

    /** transformWithState requires the RocksDB state store; set it for
      * the session unless the user already pinned a non-default provider. */
    private def ensureStateStore(): Unit = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val rocks = "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"
      val cur = spark.conf.getOption(key)
      if (!cur.contains(rocks)) {
        require(cur.isEmpty || cur.exists(_.endsWith("HDFSBackedStateStoreProvider")),
          s"streaming lake needs the RocksDB state store; session pins $cur")
        spark.conf.set(key, rocks)
      }
    }

    /** The quality-gate failure predicate (null quality fails). */
    private def gateFail: Column =
      coalesce(TextAnalysis.qualityScore(
        TextAnalysis.tokens(col(spec.textCol))), lit(0.0)) < spec.minQuality

    /** The containment tier's match rows for `gated` (empty when the
      * tier is off), projected onto the hop-1 union's columns: one row
      * per counted shingle instance, its matches in the `_priors` array
      * (leading -1 self-marker = the denominator count —
      * [[StreamDedup.containmentSuppressed]] rebuilds both from it). */
    private def containMatches(gated: DataFrame): Option[DataFrame] =
      spec.containment.map { _ =>
        StreamDedup.containmentMatches(gated, spec.idCol, spec.tsCol,
            spec.textCol, spec.lateness, spec.horizonMs, spec.shingleN,
            spec.containmentDfCap)
          .toDF()
          .select(col("doc_id"), col("ts_us"),
            lit(null).cast("boolean").as("ok"),
            col("priors").as("_priors"))
      }

    /** Hop 1: gate + textual claims. The payload rides a SECOND
      * stateless branch of the same source, unioned with the verdicts
      * (a doc's claim rows and its payload share a trigger), so the
      * sink re-assembles survivors without any stateful join and the
      * document bytes never pass through the claim shuffle.
      *
      * In keyed-CDC mode every payload row additionally carries `_op`:
      * `"U"` for a gate-passing INSERT/MODIFY image (claimed,
      * self-exempt), `"D"` for a REMOVE or a gate-failed image (a key
      * whose current text fails the gate leaves the corpus, exactly as
      * the batch plan gating the LWW snapshot would drop it). */
    private def textualStream(docs: DataFrame): DataFrame = spec.opCol match {
      case None =>
        val gated0 = docs
        val gated =
          if (spec.minQuality <= 0.0) gated0
          else StreamExpectations.gate(gated0,
              Seq("min_quality" -> gateFail))
            .filter(col("passed")).drop("violations", "passed")
        val verdicts = StreamDedup.exactAndVerifiedBandVerdicts(gated, spec.idCol,
            spec.tsCol, spec.textCol, spec.lateness, spec.horizonMs,
            spec.nearDupJaccard, spec.shingleN, spec.numHashes, spec.bands)
          .toDF()
        val payload = gated.select(
          col(spec.idCol).cast("long").as("doc_id"),
          unix_micros(col(spec.tsCol)).as("ts_us"),
          lit(null).cast("boolean").as("ok"),
          struct(gated.columns.map(col).toIndexedSeq: _*).as("_doc"))
        (Seq(verdicts) ++ containMatches(gated) ++ Seq(payload))
          .map(widen(_, gated.schema, withOp = false))
          .reduce(_.unionByName(_))
      case Some(op) =>
        val body = docs.drop(op)
        val upserts = docs.filter(col(op) =!= "REMOVE").drop(op)
          .withColumn("_op",
            if (spec.minQuality <= 0.0) lit("U")
            else when(gateFail, lit("D")).otherwise(lit("U")))
        val removes = docs.filter(col(op) === "REMOVE").drop(op)
          .withColumn("_op", lit("D"))
        val gated = upserts.filter(col("_op") === "U").drop("_op")
        val verdicts = StreamDedup.exactAndVerifiedBandVerdicts(gated, spec.idCol,
            spec.tsCol, spec.textCol, spec.lateness, spec.horizonMs,
            spec.nearDupJaccard, spec.shingleN, spec.numHashes, spec.bands,
            excludeSelf = true)
          .toDF()
        def payloadOf(df: DataFrame): DataFrame = df.select(
          col(spec.idCol).cast("long").as("doc_id"),
          unix_micros(col(spec.tsCol)).as("ts_us"),
          lit(null).cast("boolean").as("ok"),
          col("_op"),
          struct(body.columns.map(col).toIndexedSeq: _*).as("_doc"))
        (Seq(verdicts) ++ containMatches(gated) ++
            Seq(payloadOf(upserts), payloadOf(removes)))
          .map(widen(_, body.schema, withOp = true))
          .reduce(_.unionByName(_))
    }

    /** Conform a hop-1 branch to the union's full column set (doc_id,
      * ts_us, ok, _priors[, _op], _doc), nulling what the branch
      * doesn't carry. */
    private def widen(df: DataFrame,
                      docSchema: org.apache.spark.sql.types.StructType,
                      withOp: Boolean): DataFrame = {
      var out = df
      if (!out.columns.contains("_priors"))
        out = out.withColumn("_priors", lit(null).cast("array<long>"))
      if (withOp && !out.columns.contains("_op"))
        out = out.withColumn("_op", lit(null).cast("string"))
      if (!out.columns.contains("_doc"))
        out = out.withColumn("_doc", lit(null).cast(docSchema))
      out
    }

    /** First-seen (doc_id, ts_us) pairs of a hop-1 batch: every band/md5
      * claim ok AND not containment-suppressed. */
    private def textualKeep(df: DataFrame): DataFrame = {
      val v = df.filter(col("_doc").isNull && col("_priors").isNull)
        .select("doc_id", "ts_us", "ok")
      val keep0 = StreamDedup.firstSeen(v)
      spec.containment.fold(keep0) { t =>
        val cm = df.filter(col("_priors").isNotNull)
          .select(col("doc_id"), col("ts_us"), col("_priors").as("priors"))
        keep0.join(StreamDedup.containmentSuppressed(cm, t),
          Seq("doc_id", "ts_us"), "left_anti")
      }
    }

    private def textualSink: (DataFrame, Long) => Unit = (df, batchId) => spec.opCol match {
      case None =>
        val p = df.filter(col("_doc").isNotNull).select(col("_doc.*"))
        val keep = textualKeep(df).select(col("doc_id").as(spec.idCol))
        val survivors = p.join(keep, Seq(spec.idCol), "left_semi")
        TxLog.exactlyOnceAppend(df.sparkSession, dedupedZone, survivors, batchId): Unit
      case Some(_) =>
        // resolve each event's op: a candidate upsert stays "U" iff its
        // (doc, ts) passed every claim; everything else retracts
        val p = df.filter(col("_doc").isNotNull).select(col("_op"), col("_doc.*"))
        val keep = textualKeep(df)
          .select(col("doc_id").as("_k_id"), col("ts_us").as("_k_ts"),
            lit(true).as("_kept"))
        val bodyCols = p.columns.filterNot(_ == "_op").toSeq
        val changes = p
          .withColumn("_ts_us", unix_micros(col(spec.tsCol)))
          .join(keep, col(spec.idCol).cast("long") === col("_k_id") &&
            col("_ts_us") === col("_k_ts"), "left")
          .withColumn("_op", when(col("_op") === "D", lit("D"))
            .when(col("_kept"), lit("U")).otherwise(lit("D")))
          .select((bodyCols.map(col) :+ col("_op")): _*)
        if (spec.semantic.isDefined)
          // hand the CHANGELOG to hop 2 (append-only, so the txlog
          // stream source tails it); hop 2's sink applies it
          TxLog.exactlyOnceAppend(df.sparkSession, dedupedZone, changes, batchId): Unit
        else
          TxLog.cdcChangesSink(corpusZone, spec.idCol, spec.tsCol, "_op")(changes, batchId)
    }

    /** Hop 2: the deduped zone streamed through the semantic gate. Same
      * payload-union shape as hop 1. Sub-split masks derive from the
      * DEDUPED ZONE's committed survivors (codes ∩ survivors — the same
      * occupancy the batch tier's ladder sees when it dedups those
      * survivors), not the whole indexed corpus: the two ladders diverge
      * when a mega-cell's survivor count crosses a rung its indexed
      * count doesn't (round-15 directive #5). In the drain form
      * ([[runOnce]]) hop 2 plans AFTER hop 1 commits, so the masks are
      * exactly batch's; in continuous mode ([[start]]) they freeze at
      * query start over whatever the zone holds (the frozen-quantizer
      * discipline — a restart re-derives them). */
    private def semanticStream(sem: StreamingSemanticSpec): DataFrame = {
      val h = AnnIndex.load(spark, annIndexDir)
      val masks = TxLog.latest(spark, dedupedZone) match {
        case Some(_) =>
          val survivors = TxLog.read(spark, dedupedZone)
          if (survivors.schema.isEmpty) Map.empty[Long, Long]
          else AnnIndex.cellMasksFor(spark, annIndexDir,
            survivors.select(col(spec.idCol)), spec.idCol, sem.maxCell)
        case None => Map.empty[Long, Long]
      }
      val src = spark.readStream.format("txlog")
        .option("zone", dedupedZone).load()
      // keyed mode: the source is hop 1's changelog — only "U" events
      // pass the gate (self-exempt: a key's new version must not lose to
      // its own in-horizon vector); "D" events ride the payload straight
      // to the sink as retractions
      val ups = if (spec.opCol.isDefined) src.filter(col("_op") === "U").drop("_op")
                else src
      val bodyCols = src.columns.filterNot(_ == "_op").toSeq
      val enriched = sem.embZone match {
        case Some(z) => ups.join(
          TxLog.read(spark, z).select(col(spec.idCol), col(sem.vecCol)),
          Seq(spec.idCol), "left")
        case None => ups
      }
      val verdicts = StreamSemDedup.cellVerdicts(enriched, h.centroids,
          sem.threshold, spec.lateness, spec.horizonMs,
          spec.idCol, spec.tsCol, sem.vecCol, masks,
          excludeSelf = spec.opCol.isDefined)
        .toDF()
        .withColumn("_op", lit(null).cast("string"))
        .withColumn("_doc", lit(null).cast(
          org.apache.spark.sql.types.StructType(
            src.schema.fields.filterNot(_.name == "_op"))))
      val payload = src.select(
        col(spec.idCol).cast("long").as("doc_id"),
        unix_micros(col(spec.tsCol)).as("ts_us"),
        lit(null).cast("long").as("cent_id"),
        lit(null).cast("boolean").as("kept"),
        (if (spec.opCol.isDefined) col("_op")
         else lit(null).cast("string")).as("_op"),
        struct(bodyCols.map(col).toIndexedSeq: _*).as("_doc"))
      verdicts.unionByName(payload)
    }

    private def semanticSink: (DataFrame, Long) => Unit = (df, batchId) => spec.opCol match {
      case None =>
        val keep = df.filter(col("_doc").isNull && col("kept"))
          .select(col("doc_id").as(spec.idCol))
        val p = df.filter(col("_doc").isNotNull).select(col("_doc.*"))
        val survivors = p.join(keep, Seq(spec.idCol), "left_semi")
        TxLog.exactlyOnceAppend(df.sparkSession, corpusZone, survivors, batchId): Unit
      case Some(_) =>
        val keep = df.filter(col("_doc").isNull && col("kept"))
          .select(col("doc_id").as("_k_id"), col("ts_us").as("_k_ts"),
            lit(true).as("_kept"))
        val p = df.filter(col("_doc").isNotNull).select(col("_op"), col("_doc.*"))
        val bodyCols = p.columns.filterNot(_ == "_op").toSeq
        val changes = p
          .withColumn("_ts_us", unix_micros(col(spec.tsCol)))
          .join(keep, col(spec.idCol).cast("long") === col("_k_id") &&
            col("_ts_us") === col("_k_ts"), "left")
          .withColumn("_op", when(col("_op") === "D", lit("D"))
            .when(col("_kept"), lit("U")).otherwise(lit("D")))
          .select((bodyCols.map(col) :+ col("_op")): _*)
        TxLog.cdcChangesSink(corpusZone, spec.idCol, spec.tsCol, "_op")(changes, batchId)
    }

    private def ckpt(name: String): String =
      spec.checkpointDir.stripSuffix("/") + "/" + name

    /** Prime an absent deduped zone with an empty TYPED snapshot so
      * hop 2's stream source can pin its schema before hop 1's first
      * commit — needed by [[start]] (the hops race) and equally by a
      * first-ever [[runOnce]] whose source drains zero batches (hop 1
      * commits nothing, and hop 2's load would fail on a zone with no
      * transaction log — round-15 ADVICE). */
    private def primeDedupedZone(docSchema: org.apache.spark.sql.types.StructType): Unit =
      if (spec.semantic.isDefined && TxLog.latest(spark, dedupedZone).isEmpty) {
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        // keyed mode hands hop 2 a changelog: doc columns (sans the
        // input op column) + the resolved _op marker
        val handOff = spec.opCol match {
          case None => docSchema
          case Some(op) => StructType(
            docSchema.fields.filterNot(_.name == op) :+ StructField("_op", StringType))
        }
        TxLog.replace(spark, dedupedZone,
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], handOff),
          meta = Map("schema.ddl" -> handOff.toDDL)): Unit
      }

    /** Drain all currently-available input through BOTH hops (the
      * AvailableNow form — also the restart path: state resumes from
      * the checkpoints, the zone hand-off dedups by batch id). */
    def runOnce(docs: DataFrame): Unit = { runOnceTimed(docs); () }

    /** [[runOnce]] returning per-hop wall seconds (`textual`, and
      * `semantic` when that tier is configured) — the bench protocol's
      * tracked streamlake entries (round-15 directive #6). */
    def runOnceTimed(docs: DataFrame): Seq[(String, Double)] = {
      ensureStateStore()
      primeDedupedZone(docs.schema)
      val t0 = System.nanoTime()
      val q1 = textualStream(docs).writeStream
        .option("checkpointLocation", ckpt("textual"))
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch(textualSink).start()
      q1.awaitTermination()
      val hop1 = (System.nanoTime() - t0) / 1e9
      val hop2 = spec.semantic.map { sem =>
        val t1 = System.nanoTime()
        val q2 = semanticStream(sem).writeStream
          .option("checkpointLocation", ckpt("semantic"))
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch(semanticSink).start()
        q2.awaitTermination()
        (System.nanoTime() - t1) / 1e9
      }
      Seq("textual" -> hop1) ++ hop2.map("semantic" -> _)
    }

    /** Run continuously on the configured micro-batch interval; hop 2
      * tails hop 1's zone through the TxLog streaming source. The
      * deduped zone is primed with an empty TYPED snapshot when absent
      * (first-ever start): the stream source pins its schema at query
      * start from the zone's recorded `schema.ddl`, so hop 2 must not
      * race hop 1's first commit for it. */
    def start(docs: DataFrame): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
      ensureStateStore()
      primeDedupedZone(docs.schema)
      val t = Trigger.ProcessingTime(s"${spec.triggerSeconds} seconds")
      val q1 = textualStream(docs).writeStream
        .option("checkpointLocation", ckpt("textual"))
        .outputMode("append").trigger(t)
        .foreachBatch(textualSink).start()
      val q2 = spec.semantic.map { sem =>
        semanticStream(sem).writeStream
          .option("checkpointLocation", ckpt("semantic"))
          .outputMode("append").trigger(t)
          .foreachBatch(semanticSink).start()
      }
      Seq(q1) ++ q2
    }

    /** The corpus read model: the final zone with the deterministic
      * md5 split assignment (stateless, so it needs no persisted split
      * zones — identical values on every read, the batch assignment). */
    def corpus(): DataFrame =
      Splits.assignSplit(TxLog.read(spark, corpusZone), spec.idCol, spec.splits)
  }

  def plan(spark: SparkSession, spec: StreamingLakeSpec): StreamingLakePlan = {
    spec.validate(); new StreamingLakePlan(spark, spec)
  }

  /** synth: validate config and return the lazy plan (plan-time failure for
    * bad config, like CDK synth). */
  def plan(spark: SparkSession, spec: CdcSpec): CdcPlan = {
    spec.validate(); new CdcPlan(spark, spec)
  }
  def plan(spark: SparkSession, spec: LakeSpec): LakePlan = {
    spec.validate(); new LakePlan(spark, spec)
  }
  def plan(spark: SparkSession, spec: FullLoadSpec): FullLoadPlan = {
    spec.validate(); new FullLoadPlan(spark, spec)
  }
  def plan(spark: SparkSession, spec: TrainingSpec): TrainingPlan = {
    spec.validate(); new TrainingPlan(spark, spec)
  }
}
