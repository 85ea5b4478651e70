package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the declared query inventory on
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds. */
object Bench {

  /** Warmup dir = the sf0.001 sibling of the target dir, loudly falling
    * back to the target itself (kept here so the fallback
    * warning cannot drift out of one of the copies). */
  def warmDirFor(sfDir: String): String = {
    val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (sib.isDirectory) sib.toString
    else {
      // Loud: warming on the full target dir runs every query TWICE at
      // full scale — wall time roughly doubles and the operator should
      // know why.
      System.err.println(s"[bench] WARNING: no sf0.001 sibling of $sfDir — " +
        "warming up on the full target dir (each query runs twice at full scale)")
      sfDir
    }
  }

  /** MEMORY PRE-FLIGHT (round-11 directive #6): the sf3 runs measured
    * the floor — a ~515 MB-parquet inventory OOMs a 8 GiB heap at 32
    * threads outright; 16 GiB completed round 10's inventory but round
    * 11 measured a late-run UNABLE_TO_ACQUIRE_MEMORY there too (45 min
    * of accumulated GC/checkpoint pressure + the grown quiet re-time
    * set), so the planning constant is ~32 heap bytes per parquet byte
    * per 32 threads (decompressed rows + shuffle/agg state +
    * localCheckpoint blocks all share the one local-mode heap). Rather
    * than dying mid-inventory, degrade the THREAD count so per-thread
    * state fits: concurrency is the one knob that scales task-resident
    * state without touching any query. Returns the thread count to run
    * with, printing the sizing line loudly when it degrades. */
  def preflightCores(requested: Int, dataBytes: Long, heapBytes: Long): Int = {
    val bytesPerParquetBytePer32 = 32.0
    val required = (dataBytes * bytesPerParquetBytePer32 * requested / 32.0).toLong
    if (heapBytes >= required || dataBytes <= 0L) requested
    else {
      val fit = math.max(2,
        (requested * heapBytes.toDouble / required).toInt)
      System.err.println(f"[bench] MEMORY PRE-FLIGHT: heap ${heapBytes / (1L << 20)}%d MiB " +
        f"< required ~${required / (1L << 20)}%d MiB for ${dataBytes / (1L << 20)}%d MiB " +
        f"of parquet at $requested%d threads (~32 heap B / parquet B / 32 threads, " +
        f"the measured sf3 floor) — degrading to $fit%d threads instead of " +
        "OOMing mid-inventory. Give the JVM more -Xmx to run wider.")
      fit
    }
  }

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpusEnv = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val cpus = preflightCores(cpusEnv, dirBytes(sfDir),
      Runtime.getRuntime.maxMemory).toString
    val spark: SparkSession = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    // JMH-style warmup: run every query once at the smallest scale first,
    // so the timed pass measures steady-state plan execution rather than
    // one-time Janino/JIT compilation of each query's generated code. The
    // reference engines are native (no JIT warmup penalty), so steady
    // state is the like-for-like throughput comparison. The warm dir is
    // the sf0.001 SIBLING of the configured testdata dir (falls back to
    // the target dir itself), and failures are counted loudly — silent
    // warmup failure would report cold numbers as steady-state.
    val warmDir = warmDirFor(sfDir)
    System.err.println(s"[bench] warmup dir: $warmDir; timed dir: $sfDir")
    // optional dev-only subset (comma-separated names); the driver never
    // sets it, so its runs always time the full inventory
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var warmFailures = 0
    queries.zipWithIndex.foreach { case ((_, fn), i) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => warmFailures += 1 }
      // periodic GC lets the ContextCleaner reclaim dead per-query
      // localCheckpoint blocks (driver heap in local mode) before they
      // pile up across the ~1000 executions of a full double-drive
      if (i % 25 == 24) System.gc()
    }
    if (warmFailures > 0)
      System.err.println(s"[bench] WARNING: $warmFailures/${queries.size} " +
        s"warmup runs failed on $warmDir — timed numbers may include compilation")
    // BOX-SPEED CALIBRATION (round-13): a fixed, data-independent,
    // CPU-bound reference job (same shape every round: a codegen'd
    // arithmetic fold over spark.range on all threads), min-of-3,
    // recorded as "calib" beside the totals. The min-of-N protocol
    // absorbs pass-level noise, but a UNIFORMLY slow box (thermal /
    // noisy neighbor — measured this round: the same build benched
    // 171.6-181.1 s in the morning and 209.8 s six hours later, 200 of
    // 301 queries up by +0.3-0.8 s each with no code change) shifts
    // every pass together; calib gives cross-round reads a denominator
    // that moves with the box, not the engine.
    // two components so both throttle modes register: a pure-CPU fold
    // (frequency/steal) and a real shuffle (memory/IO bandwidth); each
    // sized to land well past task-scheduling noise (~1-2 s)
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000000L)
        .selectExpr("sum(id * 3 + (id % 7)) AS s").collect()
      spark.range(50000000L)
        .selectExpr("(id * 2654435761) % 1000003 AS k")
        .groupBy("k").count().selectExpr("sum(count) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calibJob(): Double = (1 to 3).map(_ => calibOnce()).min
    // SETTLE before the PRE sample (minpass-v3, round-15 directive #3):
    // every round-15 scale run read calib 9-21 % ABOVE calib_post because
    // the pre sample landed in the warmup pass's GC/JIT wake — drain the
    // wake (gc + one discarded calib run) so the pair brackets, not biases
    System.gc()
    calibOnce(): Unit
    val calib = calibJob()
    System.err.println(f"[bench] calib=$calib%.3f s (fixed reference jobs, min-of-3, settled)")
    // the within-run drift PROFILE (minpass-v3, round-15 directive #2):
    // one min-of-2 calib sample every ~50 queries INSIDE each pass
    // (outside every per-query timed window, right after the periodic
    // gc), so a run carries the box's speed curve rather than two
    // endpoints. The profile holds ONLY in-pass samples: they run under
    // inventory load (GC/JIT pressure), a consistently ~10-25 % slower
    // regime than the settled endpoints (measured at sf0.001 on first
    // landing), so endpoint-to-profile steps are load, not drift —
    // within-regime consecutive steps are the drift signal, and the
    // settled pair stays value_norm's denominator (regime-consistent
    // with the r13/r14 graded history).
    val calibProfile = scala.collection.mutable.ArrayBuffer.empty[Double]
    // The round-6 TxLog zones are per-(JVM, sf dir) lazy singletons, so
    // the warmup pass above only built the WARM dir's zones. Build the
    // timed dir's zones here so q156-q158 time what they claim to time —
    // the manifest-pruned READ — not a one-time lake build; the same
    // setup-exclusion the compaction entry below applies to its zone.
    // Per-zone isolation: one zone's failure must not push the others'
    // build cost into their timed runs; skip zones whose query a dev
    // subset excluded.
    val zoneBuilds: Seq[(String, () => Any)] = Seq(
      "q156_txlog_pruned_read" -> (() => Round6Queries.shipdateZone(spark, sfDir)),
      "q157_txlog_zorder_pruned" -> (() => Round6Queries.zorderZone(spark, sfDir)),
      "q158_txlog_time_travel" -> (() => Round6Queries.timeTravelZone(spark, sfDir)))
    zoneBuilds.foreach { case (q, build) =>
      if (only.forall(_.contains(q)))
        try build() catch { case e: Throwable =>
          System.err.println(s"[bench] WARNING: zone prebuild for $q failed: $e")
        }
    }
    // Maintenance-path entry, run INSIDE every timed pass (round-14
    // ADVICE: the headline = min of pass totals, so an entry excluded
    // from the passes was excluded from the graded number while
    // qmin_total included it — coverage now matches): small-file
    // compaction of an A13-layout CDC zone (4 closed hours x 16 tiny
    // gzip-JSON files from the events fixture). Zone setup builds a
    // FRESH zone per pass and is excluded from the timed section; the
    // timed cost is listing + rewrite + swap across the closed hours —
    // the operation a real lake runs continuously, so its cost belongs
    // in the bench beside the queries.
    def compactionEntry(): (String, Double, Option[String]) = {
      val t = try {
        val zone = java.nio.file.Files
          .createTempDirectory("graft_bench_cdc").toString + "/zone"
        import org.apache.spark.sql.functions._
        graft.sources.Tables.events(spark, sfDir)
          .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
          .withColumn("year", lit(2024)).withColumn("month", lit(1))
          .withColumn("day", lit(1))
          .withColumn("hour", pmod(col("user_id"), lit(4)).cast("int"))
          .repartition(16)
          .write.mode("append").partitionBy("year", "month", "day", "hour")
          .option("compression", "gzip").json(zone)
        val t0 = System.nanoTime()
        val stats = graft.operators.Compaction.compactClosedHours(
          spark, zone, beforeHour = (2025, 1, 1, 0))
        val secs = (System.nanoTime() - t0) / 1e9
        require(stats.nonEmpty && stats.forall(_._2.rewritten),
          s"compaction bench did not rewrite: $stats")
        (secs, None)
      } catch { case e: Throwable =>
        (-1.0, Some(e.toString.replaceAll("[\\s\"\\\\]+", " ").take(160))) }
      ("compaction_cdc_zone", t._1, t._2)
    }
    val runCompaction = only.forall(_.contains("compaction_cdc_zone"))
    // A throwing query gets time = -1 (visibly broken, never a plausible
    // tiny wall-time) and an entry in the errors map — a regression must
    // not be reportable as a speedup.
    def timedPass(): Seq[(String, Double, Option[String])] = {
      val qs = queries.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, fn), i) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable =>
                    Some(e.toString.replaceAll("[\\s\"\\\\]+", " ").take(160)) }
        val secs = if (err.isDefined) -1.0 else (System.nanoTime() - t0) / 1e9
        // OUTSIDE the timed window: reclaim dead checkpoint blocks
        if (i % 25 == 24) System.gc()
        // OUTSIDE the timed window: the drift-profile sample (min-of-2
        // so one GC spike cannot fake a drift step)
        if (i % 50 == 49) calibProfile += math.min(calibOnce(), calibOnce())
        (name, secs, err)
      }
      if (runCompaction) qs :+ compactionEntry() else qs
    }
    // MIN-OF-N PASSES (round-13 directive #1): one in-inventory pass
    // carries up to ~2x per-query interference (GC pressure, JIT churn,
    // ambient box state — round 12's driver artifact smeared +13% across
    // 40 untouched queries while a clean same-box run measured -10%), so
    // ONE noisy window must not be able to smear the graded number. The
    // inventory runs SPARK_GRAFT_TIMED_PASSES times (default 2) and each
    // query records its MINIMUM — the steady-state estimator the quiet
    // re-time already applies to the top-20, extended to the whole
    // inventory. Per-pass sums are reported alongside ("passes") so the
    // protocol total stays auditable against single-pass history.
    val nPasses = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_TIMED_PASSES", "2").toInt)
    val passes = (1 to nPasses).map { p =>
      val r = timedPass()
      System.err.println(f"[bench] pass $p/$nPasses sum=${
        r.collect { case (_, s, _) if s >= 0 => s }.sum}%.1f s " +
        s"errors=${r.count(_._3.isDefined)}")
      r
    }
    val passTotals = passes.map(r =>
      if (r.exists(_._3.isDefined)) -1.0
      else r.map(_._2).filter(_ >= 0).sum)
    // per query: min over passes that succeeded; an error only survives
    // if EVERY pass threw (a one-pass hiccup costs nothing; a real
    // regression still fails every pass, and the bench with it)
    val runs = passes.head.map(_._1).map { name =>
      val attempts = passes.map(_.find(_._1 == name).get)
      val ok = attempts.filter(_._3.isEmpty)
      if (ok.isEmpty) (name, -1.0, attempts.head._3)
      else (name, ok.map(_._2).min, None)
    }
    val allRuns = runs
    // QUIET RE-TIME: in-inventory per-query numbers carry up to ~2x
    // interference for heavy queries (GC pressure and JIT churn from the
    // 200+ preceding queries — q73/q172/q192 across rounds 6-7 all
    // "regressed" by exactly this mechanism and cost a judge
    // investigation each time). After the full pass, re-run the K most
    // expensive queries one at a time in the now-settled JVM, twice each,
    // and record min-of-2 as the query's QUIET time. Cross-round
    // per-query comparisons should use these; the in-inventory numbers
    // remain the protocol total.
    // Top-20 (round-11 directive #3: the round-10 q263–q267 "regressions"
    // had no quiet evidence because only the top-10 got re-timed; 20
    // covers the 1–3 s mid-band where interference artifacts live) plus
    // an always-on pin of that quartet so the A/B exists every round
    // regardless of rank.
    val quietK = 20
    val quietPinned = Set("q263_gap_quantiles", "q264_edit_distance_join",
      "q265_expectations", "q266_prefix_topk", "q267_wow_rate_shift")
    val quietNames = {
      val retimable = runs.filter(r => r._3.isEmpty && queries.contains(r._1))
      val top = retimable.sortBy(-_._2).take(quietK).map(_._1)
      (top ++ retimable.filter(r => quietPinned(r._1)).map(_._1)).distinct
    }
    // Guarded: a quiet RE-time failure (e.g. late-run execution-memory
    // exhaustion after 45 min of accumulated GC pressure — measured at
    // sf3/16 g in round 11) must cost that one quiet number, never the
    // whole bench run whose timed results already exist.
    // NonFatal only: an Error (OOM) leaves the heap in unknown state, so
    // timing MORE queries on it would record garbage — abort the quiet
    // pass, keep what it recorded, and let the already-complete
    // in-inventory numbers carry the round.
    var quietAborted = false
    val quiet = quietNames.flatMap { name =>
        if (quietAborted) None
        else {
          val fn = queries(name)
          System.gc()
          try {
            val t = (0 until 2).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            Some(name -> t)
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] WARNING: quiet re-time of $name " +
                s"failed (${e.toString.take(120)}) — in-inventory number stands")
              None
            case e: Throwable =>
              quietAborted = true
              System.err.println(s"[bench] WARNING: quiet re-time of $name " +
                s"hit a fatal ${e.getClass.getSimpleName} — aborting the " +
                "quiet pass (heap state unknown); in-inventory numbers stand")
              None
          }
        }
    }
    // THE COMPOSED STREAMING LAKE as tracked artifact entries (round-15
    // directive #6: `Probe streamlake` timings were prose — the
    // continuous path's perf is now graded round-over-round from the
    // bench artifact like every query). Setup (zone seeding + the one
    // frozen-quantizer index build) is untimed, like the txlog zone
    // prebuilds above; timed entries are the two hops of a full drain
    // over the sf dir's documents, their total, and an idle re-drain
    // (the checkpoint-resume cost). NOT in value/qmin_total: the
    // continuous path isn't a query-inventory entry and its wall time is
    // trigger-shaped — but a failure still fails the bench via the
    // errors map.
    def streamlakeEntry(): (Seq[(String, Double)], Option[String]) = try {
      import org.apache.spark.sql.functions._
      val base = java.nio.file.Files
        .createTempDirectory("graft_bench_slake").toString
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val embZone = s"$base/emb"
      graft.operators.TxLog.replace(spark, embZone,
        graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"))
          .withColumn("embedding",
            transform(sequence(lit(0), lit(63)), d =>
              (pmod(xxhash64(col("doc_id") * 64 + d), lit(1000)).cast("double")
                / 1000.0 - 0.5).cast("float"))))
      val docsDir = s"$base/docs"
      docs.withColumn("ts", timestamp_seconds(col("doc_id")))
        .write.parquet(docsDir)
      val idxDir = s"$base/annindex"
      graft.operators.AnnIndex.build(spark, idxDir, embZone, idCol = "doc_id")
      val plan = Pipeline.plan(spark, Pipeline.StreamingLakeSpec(
        lakeDir = s"$base/lake", checkpointDir = s"$base/ckpt",
        minQuality = 0.05,
        semantic = Some(Pipeline.StreamingSemanticSpec(
          embZone = Some(embZone), threshold = 0.95, indexDir = Some(idxDir)))))
      def stream() = spark.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP").parquet(docsDir)
      val hops = plan.runOnceTimed(stream())
      val t0 = System.nanoTime()
      plan.runOnce(stream())
      val idle = (System.nanoTime() - t0) / 1e9
      val survivors = graft.operators.TxLog.read(spark, plan.corpusZone).count()
      System.err.println(f"[bench] streamlake full=${hops.map(_._2).sum}%.1f s " +
        f"(${hops.map { case (n, s) => f"$n=$s%.1f" }.mkString(", ")}) " +
        f"idle=$idle%.2f s survivors=$survivors")
      (hops.map { case (n, s) => s"streamlake_$n" -> s } ++
        Seq("streamlake_full" -> hops.map(_._2).sum,
          "streamlake_idle" -> idle), None)
    } catch { case e: Throwable =>
      (Seq.empty, Some(e.toString.replaceAll("[\\s\"\\\\]+", " ").take(160)))
    }
    val (streamlake, streamlakeErr) =
      if (only.isEmpty) streamlakeEntry() else (Seq.empty, None)

    // calib AGAIN, sampled after EVERY timed section (passes, quiet
    // re-time, streamlake — round-14 ADVICE moved it past the quiet loop): the
    // round-14 variance study found calib-normalized totals tight (±3 %)
    // when box state held but one run where the box moved DURING the
    // ~9-minute inventory — a single pre-pass sample can't see that.
    // calib_post bounds the within-run drift in the artifact itself:
    // every recorded number now lies inside the [calib, calib_post]
    // bracket.
    val calibPost = calibJob()
    System.err.println(f"[bench] calib_post=$calibPost%.3f s")
    val errors = allRuns.collect { case (n, _, Some(e)) => n -> e } ++
      streamlakeErr.map("streamlake" -> _)
    if (errors.nonEmpty)
      System.err.println(s"[bench] ERROR: ${errors.size} queries threw: " +
        errors.map(_._1).mkString(", "))
    val results = allRuns.map { case (n, s, _) => n -> s }
    // A failing query must FAIL the bench, not make it look faster: with
    // any error the total is the -1 sentinel (impossible as a real time),
    // so a total-only consumer can never read a regression as a speedup.
    // Per-query entries keep their own -1 markers alongside.
    //
    // HEADLINE = MIN OF PER-PASS TOTALS (round-13 ADVICE, medium): the
    // round-13 headline summed per-query minima ACROSS passes — a total
    // no single pass produced, systematically below the best real pass
    // (sf1: 385.0 vs pass sums 551.5/423.6), which read as a ~5-10%
    // speedup with no engine change. The graded value is now a number an
    // actual end-to-end pass produced; the per-query minima stay in the
    // artifact as "qmin_total" + the "queries" map (the steady-state
    // per-query estimator cross-round PER-QUERY reads should use), and
    // "protocol" names the scheme so cross-round totals are compared
    // like for like (r13 and earlier = qmin/single-pass).
    val qminTotal =
      if (errors.nonEmpty) -1.0 else results.map(_._2).filter(_ >= 0).sum
    val cleanPassTotals = passTotals.filter(_ >= 0)
    // PROTOCOL minpass-v3 (round-15 verdict directives #2/#3): v2's
    // headline (min of per-pass totals; compaction inside every pass;
    // `value_norm = value / pairMean(calib, calib_post)`, its meaning
    // unchanged for cross-round reads) plus (a) the pre calib SETTLED
    // out of the warmup wake (gc + a discarded run — every r15 scale
    // run's pre sample read 9-21 % high), and (b) the within-run drift
    // PROFILE: in-pass min-of-2 calib samples every ~50 queries, with
    // `calib_drift_max_step` = the max relative step between
    // consecutive profile samples. Grading validity stops depending on
    // two endpoint draws: grade value_norm when BOTH the profile max
    // step and the pair move are under ~10 %; otherwise the profile
    // localizes where the box moved and the min-pass raw value carries
    // the comparison. Raw value remains the within-round 2x-budget
    // number.
    val (total, protocol) =
      if (errors.nonEmpty) (-1.0, "minpass-v3")
      else if (cleanPassTotals.nonEmpty) (cleanPassTotals.min, "minpass-v3")
      else {
        // every pass had an isolated hiccup that some other pass absorbed
        // (errors map empty): no clean end-to-end total exists — fall
        // back to the per-query-min sum, loudly and visibly versioned
        System.err.println("[bench] WARNING: no pass completed without a " +
          "hiccup; headline falls back to the per-query-min sum")
        (qminTotal, "qmin-fallback")
      }
    val calibPairMean = (calib + calibPost) / 2.0
    val driftMaxStep = calibProfile.toSeq.sliding(2).collect {
      case scala.collection.Seq(a, b) => math.abs(b - a) / a
    }.foldLeft(0.0)(math.max)
    val valueNorm = if (total < 0) -1.0 else total / calibPairMean
    System.err.println(f"[bench] value=$total%.1f s value_norm=$valueNorm%.1f " +
      f"(pair mean $calibPairMean%.3f; in-pass profile ${calibProfile.size} " +
      f"samples, max step ${driftMaxStep * 100}%.1f%%)")

    // Full-precision per-query map goes to a FILE: the consumer of the
    // stdout line keeps only the last ~2000 chars of output, and 130
    // queries at nanosecond precision is ~3.5 KB — rounds 1-3 all failed
    // to parse for exactly that reason. The stdout line carries the total
    // plus a headline subset and is kept under the tail budget.
    val fullJson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val quietJson = quiet.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val passesJson = passTotals.mkString("[", ",", "]")
    val profileJson = calibProfile
      .map(v => "%.3f".formatLocal(java.util.Locale.ROOT, v))
      .mkString("[", ",", "]")
    val streamlakeJson = streamlake
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullPath = new java.io.File("target/bench_full.json")
    fullPath.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(fullPath, "UTF-8")
    try w.println(
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol","value_norm":$valueNorm,"calib":$calib,"calib_post":$calibPost,"calib_profile":$profileJson,"calib_drift_max_step":$driftMaxStep,"qmin_total":$qminTotal,"passes":$passesJson,"streamlake":$streamlakeJson,"queries":$fullJson,"quiet":$quietJson,"errors":$errJson,"sf":"$sfDir"}""")
    finally w.close()
    System.err.println(s"[bench] full per-query timings: ${fullPath.getAbsolutePath}")

    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // NEWEST FIRST: the fit-to-1700-chars loop below drops from the END,
    // so the queries most recently added or changed must lead the vector —
    // otherwise each round's new work is exactly what gets trimmed out of
    // the driver's per-query record (round 5 lost q154/q155 this way).
    // When adding a query, prepend it here.
    val headline = Vector(
      "q300_contingency_lift", "q299_seasonality_strength", "q298_acf_lag1",
      "q297_spearman_rho", "q296_benford_gate", "q295_wilcoxon_signed_rank",
      "q294_kendall_tau", "q293_mann_whitney_u", "q292_pairwise_diff_scale",
      "q291_transition_baseline", "q290_conversion_ladder",
      "q289_brand_hhi", "q288_label_balance",
      "q287_order_fanout", "q286_revenue_gini", "q285_upper_quartile_segment",
      "q284_incremental_join",
      "q283_ab_readout", "q282_max_drawdown", "q281_theil_sen_slope",
      "q280_pending_order_aging", "q279_dup_graph_degrees", "q278_trending_terms",
      "q277_snapshot_diff", "q276_mutual_nn", "q275_path_trigrams",
      "q274_dedup_method_agreement", "q273_unique_passage_ratio",
      "q272_token_burstiness", "q271_lorenz_curve", "q270_rfm_segments",
      "q269_conversion_latency", "q268_tvd_drift", "q267_wow_rate_shift",
      "q266_prefix_topk", "q265_expectations", "q264_edit_distance_join",
      "q263_gap_quantiles", "q262_key_skew_report", "q261_log2_histogram",
      "q260_grid_density_cores", "q259_hour_of_week", "q258_user_ewma",
      "q257_harmonic_centrality", "q256_assoc_rules", "q255_frequent_pairs",
      "q254_robust_mad", "q253_ks_two_sample", "q252_chi2_independence",
      "q251_corr_matrix",
      "q250_local_clustering", "q249_mode_per_group", "q248_weighted_median",
      "q247_interval_coverage",
      "q246_cluster_span", "q245_source_token_overlap", "q244_lsh_calibration",
      "q243_dedup_quota", "q242_simpson_diversity", "q241_novelty_curve",
      "q240_doc_keywords", "q239_centroid_confusion", "q238_winsor_trim",
      "q237_vocab_growth", "q236_stratified_quota", "q235_decayed_activity",
      "q200_mmr_rerank", "q199_cluster_balanced_select",
      "q198_matryoshka_recall", "q197_bpe_apply",
      "q196_length_buckets", "q195_winnowing_pairs", "q194_split_leakage",
      "q193_quality_tiers", "q192_textcat_langid",
      "q191_bpe_merges", "q190_k_anonymity", "q189_gopher_rules",
      "q188_consistent_sample", "q187_shared_span",
      "q186_token_budget_select", "q185_vocab_oov", "q184_semdedup",
      "q183_pq_recall", "q182_knn_ivf_int8", "q181_int8_recall",
      "q180_cdc_chunk_dedup",
      "q179_collocation_lift", "q178_kcore", "q177_token_diversity",
      "q176_dup_ngram_frac",
      "q175_readability", "q174_dedup_resolution", "q173_dedup_overlap",
      "q172_label_propagation", "q171_asof_nearest",
      "q170_ivf_cell_neardup",
      "q169_shortest_path_weighted", "q168_dsir_importance",
      "q167_bigram_lm_score",
      "q166_bfs_levels",
      "q165_mixture_weights", "q164_repetition_ratio",
      "q163_hits_scores", "q162_sorted_neighborhood",
      "q161_event_transitions", "q160_bm25_topk",
      "q159_knn_join", "q158_txlog_time_travel", "q157_txlog_zorder_pruned",
      "q156_txlog_pruned_read",
      "compaction_cdc_zone",
      "q155_countmin_estimates", "q154_retention_cohorts",
      "q153_rank_fusion", "q152_triangle_count",
      "q151_pagerank_weighted", "q150_max_concurrency",
      "q149_asof_forward", "q148_cdc_scd2", "q147_shingle_containment",
      "q146_contamination", "q145_tfidf_topterms",
      "q144_unigram_lm_score", "q143_neardup_lsh_banded",
      "q142_pagerank_redistribute", "q141_ann_lsh_multiprobe",
      "q139_pagerank", "q138_weighted_sample", "q137_minhash_estimate",
      "q135_skyline", "q133_zorder_stats", "q132_bloom_semi",
      "q131_hll_distinct", "q125_global_rownum", "q124_tpch_q3",
      "q120_tpch_q6", "q97_heavy_hitters_exact", "q95_salted_join",
      "q73_tpch_q5", "q69_ann_kmeans", "q56_dup_clusters",
      "q54_asof_join", "q52_percentiles", "q49_sessionize",
      "q45_dedup_exact_groups", "q44_ann_ivf", "q43_embedding_neardup",
      "q40_text_langid", "q39_text_quality", "q38_dedup_simhash",
      "q37_dedup_minhash_lsh", "q36_dedup_ngram_jaccard",
      "q34_cosine_topk", "q33_tokenize_topk", "q32_dedup_hash",
      "q31_window_tumbling", "q28_cdc_snapshot", "q27_cdc_transform",
      "q26_json_funcs", "q19_union", "q18_topk", "q16_window_sliding",
      "q14_window_latest", "q12_rollup", "q11_agg_distinct",
      "q10_agg_pricing_summary", "q09_join_range", "q08_join_multiway",
      "q07_join_broadcast", "q06_join_anti", "q05_join_semi",
      "q04_join_left_outer", "q03_join_inner", "q02_filter_project",
      "q01_scan_count")
    val byName = results.toMap
    // Build the headline map, then drop entries from the END until the
    // whole line fits the consumer's 2000-char tail with slack for sbt's
    // trailing "[success] ..." footer. Never drop metric/value/sf.
    // the quiet map rides the stdout line too (it is small and it is the
    // number cross-round grading should read for heavy queries)
    val quietLine = quiet.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val streamlakeLine = streamlake
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // calib_profile lives ONLY in target/bench_full.json (round-16 verdict
    // #2: the 12-float profile on the stdout line ate 8 per-query headline
    // slots — q274-q281 lost their round-over-round record while a
    // file-only diagnostic rode the line). calib_drift_max_step — the
    // grading signal derived from the profile — stays on the line.
    // value, value_norm and calib are the LAST fields, each once: the
    // consumer keeps the line's tail, and stray output after it clips the
    // head first.
    def line(names: Vector[String]): String = {
      val qs = names.flatMap(n => byName.get(n).map(v => "\"" + n + "\":" + f3(v)))
        .mkString("{", ",", "}")
      s"""{"metric":"total","unit":"sec","protocol":"$protocol","calib_post":${f3(calibPost)},"calib_drift_max_step":${f3(driftMaxStep)},"qmin_total":${f3(qminTotal)},"passes":${
        passTotals.map(f3).mkString("[", ",", "]")},"streamlake":$streamlakeLine,"queries":$qs,"quiet":$quietLine,"errors":${errors.size},"sf":"$sfDir","value":${f3(total)},"value_norm":${f3(valueNorm)},"calib":${f3(calib)}}"""
    }
    // 1850: the consumer keeps the last ~2000 chars of stdout and sbt's
    // "[success] Total time ..." footer is ~75 — 1850 + 75 < 2000 with
    // slack, and it fits a 28-query headline window (q273-q300 + quiet +
    // streamlake render 1850 chars from the r17 artifact's values).
    var keep = headline
    while (line(keep).length > 1850 && keep.nonEmpty) keep = keep.init
    val out = line(keep)

    // Stop Spark BEFORE printing so no executor/shutdown log line can land
    // after the JSON line inside the consumer's tail window.
    try spark.stop() catch { case _: Throwable => () }
    println(out)
    System.out.flush()
  }
}
