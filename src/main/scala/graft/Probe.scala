package graft

/** The one dev probe main (replaces the round-5/6/7 PerfProbe{,2..5} and
  * Scratch one-offs — same capabilities, parameterized):
  *
  *  - `runMain graft.Probe entry`
  *    Drives `SparkEntry.entry` like the driver's smoke check; prints
  *    `entry rows=N`.
  *  - `runMain graft.Probe time <sfDir> <q1,q2,...> [reps]`
  *    Quiet per-query timing: runs each named declared query `reps`
  *    times (default 3) on a fresh session and prints every rep plus the
  *    min — the quiet-subset A/B tool the bench-interference protocol
  *    (SURVEY "bench protocol") prescribes for cross-round comparisons.
  *  - `runMain graft.Probe explain <sfDir> <q1,q2,...> <outDir>`
  *    Writes each named query's `explain("formatted")` physical plan to
  *    `<outDir>/<name>.txt` — the before/after plan evidence the
  *    optimization rounds commit under `plans/`.
  *  - `runMain graft.Probe lakeplan <sfDir> [sem]`,
  *    `streamlake <sfDir> [attrib]`, `streambench <sfDir> [changelog]`
  *    Time the batch training lake, the streaming lake against it, and
  *    the streaming-lake drain at bench scale (each described at its
  *    case below).
  */
object Probe {
  def main(args: Array[String]): Unit = args.toList match {
    case "entry" :: Nil =>
      val spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val df = SparkEntry.entry(spark)
      val n = df.count()
      df.show(5, truncate = false)
      println(s"entry rows=$n")
      spark.stop()

    case "time" :: sfDir :: names :: rest =>
      val reps = rest.headOption.map(_.toInt).getOrElse(3)
      val spark = GraftSession.get()
      spark.sparkContext.setLogLevel("WARN")
      graft.functions.GraftFunctions.registerAll(spark)
      val qs = SparkEntry.queries
      names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        val fn = qs.getOrElse(name,
          sys.error(s"unknown query '$name' — declared: ${qs.keys.toSeq.sorted.take(5).mkString(", ")}..."))
        val times = (1 to reps).map { _ =>
          System.gc()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$name%-32s min=${times.min}%7.3f s  reps=${times.map(t => f"$t%.3f").mkString(",")}")
      }
      spark.stop()

    case "explain" :: sfDir :: names :: outDir :: Nil =>
      val spark = GraftSession.get()
      spark.sparkContext.setLogLevel("ERROR")
      new java.io.File(outDir).mkdirs()
      val qs = SparkEntry.queries
      names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        val fn = qs.getOrElse(name,
          sys.error(s"unknown query '$name'"))
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
        try w.println(txt) finally w.close()
        println(s"[explain] $name -> $outDir/$name.txt (${txt.length} chars)")
      }
      spark.stop()

    // The E2E training lake at bench scale: seed a TxLog source zone
    // from the sf dir's documents, run the staged LakePlan (gate ->
    // 3-tier dedup -> splits -> packing) end to end, then re-run idle —
    // the pair of numbers that shows what a full refresh costs vs what
    // the watermark resume costs (metadata-only). Survivor/packing
    // counts print beside the times so the run is auditable.
    case "lakeplan" :: sfDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = GraftSession.get()
      spark.sparkContext.setLogLevel("WARN")
      val base = java.nio.file.Files.createTempDirectory("graft_lakeplan").toString
      val srcZone = s"$base/src"
      graft.operators.TxLog.replace(spark, srcZone,
        sources.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text")))
      // "sem" enables the SEMANTIC tier at bench scale (round-13
      // directive #3's done-criterion: idle resume must stay
      // metadata-only with the ANN-index stage in the plan): a
      // deterministic doc_id-derived embedding zone feeds the index
      val sem = rest.contains("sem")
      val semSpec =
        if (!sem) None
        else {
          val embZone = s"$base/emb"
          graft.operators.TxLog.replace(spark, embZone,
            sources.Tables.documents(spark, sfDir).select(col("doc_id"))
              .withColumn("embedding",
                transform(sequence(lit(0), lit(63)), d =>
                  (pmod(xxhash64(col("doc_id") * 64 + d), lit(1000)).cast("double")
                    / 1000.0 - 0.5).cast("float"))))
          Some(Pipeline.SemanticSpec(embZone, threshold = 0.95))
        }
      val spec = Pipeline.LakeSpec(srcZone = srcZone, lakeDir = s"$base/lake",
        minQuality = 0.05, containment = 0.95, nearDupJaccard = 0.8,
        semantic = semSpec)
      val plan = Pipeline.plan(spark, spec)
      val t0 = System.nanoTime()
      plan.run()
      val full = (System.nanoTime() - t0) / 1e9
      val survivors = graft.operators.TxLog.read(spark, plan.dedupedZone).count()
      val packed = plan.packed()
        .agg(count(lit(1)).as("rows"), countDistinct(col("split"), col("bin")))
        .collect().head
      val t1 = System.nanoTime()
      plan.run()
      val idle = (System.nanoTime() - t1) / 1e9
      println(f"lakeplan dir=$sfDir sem=$sem survivors=$survivors " +
        f"packedRows=${packed.getLong(0)} bins=${packed.getLong(1)} " +
        f"fullSecs=$full%.1f idleSecs=$idle%.2f")
      spark.stop()

    // The composed STREAMING lake plan at bench scale (round-14
    // directive #1's scale evidence): run the batch LakePlan (semantic
    // tier) and the StreamingLakePlan over the SAME bench corpus and
    // report both survivor sets plus their symmetric difference — the
    // measured size of the documented online-dedup deviations
    // (first-arrival representative choice, claim-without-verify,
    // containment order) on real text, beside the wall times.
    case "streamlake" :: sfDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = GraftSession.get()
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_streamlake").toString
      val srcZone = s"$base/src"
      val embZone = s"$base/emb"
      val docs = sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      graft.operators.TxLog.replace(spark, srcZone, docs)
      graft.operators.TxLog.replace(spark, embZone,
        sources.Tables.documents(spark, sfDir).select(col("doc_id"))
          .withColumn("embedding",
            transform(sequence(lit(0), lit(63)), d =>
              (pmod(xxhash64(col("doc_id") * 64 + d), lit(1000)).cast("double")
                / 1000.0 - 0.5).cast("float"))))
      val bSpec = Pipeline.LakeSpec(srcZone = srcZone, lakeDir = s"$base/lake",
        minQuality = 0.05, containment = 0.95, nearDupJaccard = 0.8,
        semantic = Some(Pipeline.SemanticSpec(embZone, threshold = 0.95)))
      val bPlan = Pipeline.plan(spark, bSpec)
      val tb0 = System.nanoTime()
      bPlan.run()
      val batchSecs = (System.nanoTime() - tb0) / 1e9
      val batchIds = graft.operators.TxLog.read(spark, bPlan.semDedupedZone)
        .select(col("doc_id")).as[Long].collect().toSet
      val docsDir = s"$base/docs"
      docs.withColumn("ts", timestamp_seconds(col("doc_id")))
        .write.parquet(docsDir)
      // the stream's containment tier at the batch plan's threshold and
      // (approximately) its adaptive df cap — batch derives the cap over
      // exact-tier survivors, the probe over the raw corpus; equal on
      // the checked dirs' ladder steps
      val dfCap = graft.operators.Dedup
        .adaptiveShingleDfCap(docs, "doc_id", "text")
      System.err.println(s"[probe] streamlake containment dfCap=$dfCap")
      val sSpec = Pipeline.StreamingLakeSpec(lakeDir = s"$base/streamlake",
        checkpointDir = s"$base/ckpt", minQuality = 0.05,
        containment = Some(bSpec.containment),
        containmentDfCap = dfCap.toInt,
        semantic = Some(Pipeline.StreamingSemanticSpec(
          embZone = Some(embZone), threshold = 0.95,
          indexDir = Some(bPlan.annIndexDir))))
      val sPlan = Pipeline.plan(spark, sSpec)
      def stream() = spark.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP").parquet(docsDir)
      val ts0 = System.nanoTime()
      val hopSecs = sPlan.runOnceTimed(stream())
      val streamSecs = (System.nanoTime() - ts0) / 1e9
      System.err.println("[probe] streamlake hops: " +
        hopSecs.map { case (n, s) => f"$n=$s%.1f s" }.mkString(", "))
      val streamIds = graft.operators.TxLog.read(spark, sPlan.corpusZone)
        .select(col("doc_id")).as[Long].collect().toSet
      val ti0 = System.nanoTime()
      sPlan.runOnce(stream())
      val idleSecs = (System.nanoTime() - ti0) / 1e9
      println(f"streamlake dir=$sfDir batch=${batchIds.size}%d " +
        f"stream=${streamIds.size}%d onlyBatch=${(batchIds -- streamIds).size}%d " +
        f"onlyStream=${(streamIds -- batchIds).size}%d " +
        f"batchSecs=$batchSecs%.1f streamSecs=$streamSecs%.1f idleSecs=$idleSecs%.2f")
      // ATTRIBUTION of the under-drop (stream kept, batch dropped —
      // round-15 directive #1): re-derive each batch tier from the
      // staged zones and split the divergent set into
      //   exact/containment/semantic — tiers the stream's textual claim
      //     cannot (containment) or does not here (semantic order) mirror
      //   estimator — d has a DIRECT exact-jaccard >= t pair with an
      //     earlier doc, but every such pair's MinHash estimate sits
      //     under the claim tier's agreement cutoff (the
      //     estimate-vs-exact straddle class; fix = more hashes)
      //   closure — d's every direct pair is with a LATER doc; batch
      //     drops it through component closure (irreducible online)
      //   uncaught — earlier direct pair with estimate >= cutoff (a
      //     sanity class; should be ~0)
      if (rest.contains("attrib")) {
        import graft.operators.{Dedup, TxLog}
        val t = bSpec.nearDupJaccard
        val estCut = math.ceil(t * 32).toInt / 32.0 // the stream's 32-hash agreement cutoff
        val under = (streamIds -- batchIds).toSeq.toDF("doc_id")
          .localCheckpoint(true)
        val gated = TxLog.read(spark, bPlan.gatedZone)
        val canon = Dedup.exactGroups(gated, "doc_id", "text")
          .select(col("canonical_id").as("doc_id"))
        val exactSurv = gated.join(canon, Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        val stx = Dedup.pairStatsAdaptive(exactSurv, "doc_id", "text")
        val caC = round(col("inter").cast("double") / col("n_a"), 4)
        val cbC = round(col("inter").cast("double") / col("n_b"), 4)
        val cT = bSpec.containment
        val contained = stx.select(
          when(caC >= cT && (cbC < cT || col("a_id") > col("b_id")), col("a_id"))
            .when(cbC >= cT, col("b_id")).as("doc_id"))
          .filter(col("doc_id").isNotNull).distinct()
          .localCheckpoint(true)
        val textualSurv = TxLog.read(spark, bPlan.dedupedZone).select("doc_id")
        val nExact = under.join(exactSurv.select("doc_id"), Seq("doc_id"), "left_anti").count()
        val nCont = under.join(contained, Seq("doc_id"), "left_semi").count()
        // split the containment class by ONLINE catchability: a stream
        // can suppress the contained side only when its container
        // arrived earlier (id order here) — the other direction needs
        // retraction, the irreducible online class
        val dropPair = stx.select(
          when(caC >= cT && (cbC < cT || col("a_id") > col("b_id")),
            struct(col("a_id").as("dropped"), col("b_id").as("container")))
            .when(cbC >= cT,
              struct(col("b_id").as("dropped"), col("a_id").as("container")))
            .as("p"))
          .filter(col("p").isNotNull).select(col("p.*"))
        val underCont = under.join(contained, Seq("doc_id"), "left_semi")
        val catchable = dropPair
          .join(underCont.select(col("doc_id").as("dropped")), Seq("dropped"), "left_semi")
          .groupBy(col("dropped"))
          .agg(min(col("container")).as("minC"))
          .filter(col("minC") < col("dropped")).count()
        val nSem = under.join(textualSurv, Seq("doc_id"), "left_semi").count()
        val underMh = under
          .join(textualSurv, Seq("doc_id"), "left_anti")
          .join(contained, Seq("doc_id"), "left_anti")
          .join(exactSurv.select("doc_id"), Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        val postCont = exactSurv.join(contained, Seq("doc_id"), "left_anti")
        // every LSH candidate's estimate beside its exact jaccard, kept
        // only at exact >= t (the batch pair relation), partner earlier
        val pairs = Dedup.minhashEstimatePairs(postCont, "doc_id", "text")
          .filter(col("jaccard") >= t)
        val estMax = pairs
          .join(underMh.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
          .groupBy(col("b_id").as("doc_id"))
          .agg(max(col("est_jaccard")).as("maxEst"))
          .localCheckpoint(true)
        val nMh = underMh.count()
        val nEst = estMax.filter(col("maxEst") < estCut).count()
        val nUncaught = estMax.filter(col("maxEst") >= estCut).count()
        val nClosure = nMh - nEst - nUncaught
        // split the CATCHABLE class by cap SCOPE (round-16): the batch
        // drop came from df-CAPPED stats whose cap is a corpus-global
        // solve (final df of every shingle, including arrivals the
        // stream hasn't seen when it must rule). Re-check each catchable
        // pair UNCAPPED (pair-local, so computing on the pair-doc subset
        // is exact): `streamMiss` = some earlier container reaches the
        // threshold on FULL shingle sets — a tier the stream should
        // catch; `capScope` = only the capped metric reaches it — batch
        // is using knowledge of arrivals AFTER the doc (online-
        // irreducible without corpus-global df state).
        val catchPairs = dropPair
          .join(underCont.select(col("doc_id").as("dropped")), Seq("dropped"), "left_semi")
          .filter(col("container") < col("dropped"))
          .localCheckpoint(true)
        val pairDocs = catchPairs.select(col("dropped").as("doc_id"))
          .union(catchPairs.select(col("container").as("doc_id"))).distinct()
        val stxU = Dedup.pairStats(
          exactSurv.join(pairDocs, Seq("doc_id"), "left_semi"),
          "doc_id", "text")
        val ucaC = round(col("inter").cast("double") / col("n_a"), 4)
        val ucbC = round(col("inter").cast("double") / col("n_b"), 4)
        val ucPair = stxU.select(col("a_id").as("dropped"),
            col("b_id").as("container"), ucaC.as("c"))
          .unionByName(stxU.select(col("b_id").as("dropped"),
            col("a_id").as("container"), ucbC.as("c")))
        val maxU = catchPairs.join(ucPair, Seq("dropped", "container"), "left")
          .groupBy("dropped")
          .agg(max(coalesce(col("c"), lit(0.0))).as("maxU"))
        val nStreamMiss = maxU.filter(col("maxU") >= cT).count()
        val nCapScope = maxU.filter(col("maxU") < cT).count()
        println(f"streamlake-attrib dir=$sfDir underDrop=${(streamIds -- batchIds).size}%d " +
          f"exact=$nExact cont=$nCont [contCatchable=$catchable " +
          f"(streamMiss=$nStreamMiss capScope=$nCapScope) " +
          f"contIrreducible=${nCont - catchable}] sem=$nSem minhash=$nMh " +
          f"[estimator=$nEst closure=$nClosure uncaught=$nUncaught] estCut=$estCut%.4f")
      }
      spark.stop()

    // Isolated A/B for the composed streaming-lake DRAIN (round-17: the
    // bench's largest tracked entry is per-batch RocksDB spin-up, not
    // query shape): replicates Bench.streamlakeEntry's setup with
    // optional RocksDB changelog checkpointing, reporting per-hop
    // seconds, micro-batch and state-partition counts, and the idle
    // re-drain.
    //   runMain graft.Probe streambench <sfDir> [changelog]
    case "streambench" :: sfDir :: rest =>
      import org.apache.spark.sql.functions._
      val changelog = rest.contains("changelog")
      val spark = GraftSession.get()
      spark.sparkContext.setLogLevel("WARN")
      if (changelog)
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled", "true")
      // per-batch visibility: one line per micro-batch with the phase
      // breakdown Spark reports (planning vs addBatch vs state commit)
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          def ms(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
          val st = p.stateOperators.map(s =>
            s"${s.operatorName}:rows=${s.numRowsTotal},upd=${s.numRowsUpdated}," +
              s"commit=${s.commitTimeMs}ms").mkString(" | ")
          System.err.println(s"[sb] batch=${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${ms("triggerExecution")}ms addBatch=${ms("addBatch")}ms " +
            s"plan=${ms("queryPlanning")}ms getBatch=${ms("getBatch")}ms " +
            s"latestOffset=${ms("latestOffset")}ms walCommit=${ms("walCommit")}ms " +
            s"commitOffsets=${ms("commitOffsets")}ms state[$st]")
        }
      })
      val base = java.nio.file.Files.createTempDirectory("graft_streambench").toString
      val docs = sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val embZone = s"$base/emb"
      graft.operators.TxLog.replace(spark, embZone,
        sources.Tables.documents(spark, sfDir).select(col("doc_id"))
          .withColumn("embedding",
            transform(sequence(lit(0), lit(63)), d =>
              (pmod(xxhash64(col("doc_id") * 64 + d), lit(1000)).cast("double")
                / 1000.0 - 0.5).cast("float"))))
      val docsDir = s"$base/docs"
      docs.withColumn("ts", timestamp_seconds(col("doc_id"))).write.parquet(docsDir)
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
      val ti0 = System.nanoTime()
      plan.runOnce(stream())
      val idle = (System.nanoTime() - ti0) / 1e9
      val survivors = graft.operators.TxLog.read(spark, plan.corpusZone).count()
      // hidden `.<id>.crc` checksums and `_` markers are not batches
      def countDir(p: String, dirsOnly: Boolean): Int =
        Option(new java.io.File(p).listFiles())
          .map(_.count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
            (!dirsOnly || f.isDirectory))).getOrElse(-1)
      println(s"streambench changelog=$changelog " +
        hops.map { case (n, s) => f"$n=$s%.2f" }.mkString(" ") +
        f" full=${hops.map(_._2).sum}%.2f idle=$idle%.2f survivors=$survivors%d " +
        s"batches_textual=${countDir(s"$base/ckpt/textual/commits", dirsOnly = false)} " +
        s"batches_semantic=${countDir(s"$base/ckpt/semantic/commits", dirsOnly = false)} " +
        s"stateparts_textual=${countDir(s"$base/ckpt/textual/state/0", dirsOnly = true)}")
      spark.stop()

    case other =>
      System.err.println(
        s"""usage: graft.Probe entry
           |       graft.Probe time <sfDir> <q1,q2,...> [reps]
           |       graft.Probe explain <sfDir> <q1,q2,...> <outDir>
           |       graft.Probe lakeplan <sfDir> [sem]
           |       graft.Probe streamlake <sfDir> [attrib]
           |       graft.Probe streambench <sfDir> [changelog]
           |got: ${other.mkString(" ")}""".stripMargin)
      sys.exit(2)
  }
}
