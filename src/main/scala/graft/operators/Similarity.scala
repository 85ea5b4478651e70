package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an `array<float>` embedding column.
  *
  * Three tiers, by scale:
  *  1. [[bruteForceTopK]] — broadcast the query, one scan, TakeOrdered.
  *     Exact; the baseline. O(N·d) per query, no shuffle beyond top-k.
  *  2. [[ivfTopK]] — IVF-style: vectors pre-assigned to the nearest of K
  *     centroids (one scan + small broadcast); a query probes only its
  *     nearest centroid's partition -> ~1/K of the data scanned. Exact
  *     within the probed cell; deterministic (ties by centroid id), so it
  *     is oracle-checkable.
  *  3. [[cosineNearDupPairs]] — all-pairs >= threshold. Exact via self-join;
  *     at 100 TB one would first block by IVF cell / random-hyperplane
  *     sign bucket, then verify (same verify-after-candidates shape as
  *     [[Dedup.minhashNearDups]]).
  */
object Similarity {

  /** Exact top-k by cosine against a single query vector (1-row frame
    * broadcast; plan is scan -> project -> TakeOrderedAndProject). */
  def bruteForceTopK(vectors: DataFrame, query: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryVecCol: String = "qe"): DataFrame =
    vectors.crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol), col(queryVecCol)), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Assign each vector to its nearest centroid (max cosine, ties -> lowest
    * centroid id). Centroids are broadcast; one scan over the vectors. */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        centIdCol: String = "cent_id", centVecCol: String = "ce"): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol), col(centIdCol),
        cosine(col(vecCol), col(centVecCol)).as("csim"))
    val best = struct(col("csim").as("s"), (-col(centIdCol)).as("negid"))
    scored.groupBy(col(idCol))
      .agg(max_by(struct(col(centIdCol), col(vecCol)), best).as("a"))
      // Null-embedding guard, mirroring assignToCentroidsLocal: with a null
      // vector every csim is null, the max_by structs tie, and the negid
      // tie-break would silently pick the lowest centroid id.
      .select(col(idCol),
        when(col("a." + vecCol).isNotNull, col("a." + centIdCol)).as("cent_id"),
        col("a." + vecCol).as(vecCol))
  }

  /** Map-side centroid assignment for driver-resident centroids (k×dim
    * floats — a few KB, the normal IVF regime): the argmax over k cosines
    * runs inside ONE codegen'd projection
    * ([[graft.functions.ArgmaxCosine]]), so assignment costs zero
    * shuffles and no k-times row blowup. [[assignToCentroids]] by
    * contrast materializes and shuffles every (vector, centroid) pair —
    * keep it for centroid sets too large to collect. Identical
    * semantics: max cosine, ties to the lowest centroid id; a null
    * embedding yields a NULL assignment (the kernel null-propagates).
    *
    * Round 4 swapped the literal-centroid `array_max(array(struct(...)))`
    * formulation for the kernel: k·dim literal floats in the expression
    * tree meant fresh codegen SOURCE — and a fresh Janino compile — per
    * k-means iteration and per run (centroids are data-dependent); the
    * kernel keeps centroids behind `references[...]` so the compiled
    * class is cached. Same arithmetic bit-for-bit (ArgmaxCosineSpec pins
    * kernel == literal-form equality, including interpreted == codegen). */
  def assignToCentroidsLocal(vectors: DataFrame, centroids: Seq[(Long, Array[Float])],
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol),
      centroidAssignment(col(vecCol), centroids).as("cent_id"), col(vecCol))

  /** The map-side argmax-cosine assignment as a bare COLUMN — the same
    * codegen'd kernel [[assignToCentroidsLocal]] projects, exposed so
    * other shapes (streaming gates that must carry extra columns through
    * the projection) assign cells with bit-identical semantics. */
  def centroidAssignment(vec: Column, centroids: Seq[(Long, Array[Float])]): Column = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.ArgmaxCosine(
      ColumnBridge.expression(vec),
      centroids.map { case (cid, ce) => (cid, ce) }.toArray))
  }

  /** Driver-side cell ranking for multi-probe IVF: cell ids by cosine to
    * the query, descending, ties to the lowest cid — the nprobe knob's
    * order. Same arithmetic as the engine/oracle cosine (left-to-right
    * double dot, norm(q)·norm(ce) multiply order, zero-denom -> 0.0), so
    * the probed cell set matches the SQL oracle's bit-for-bit. */
  def rankCells(centroids: Seq[(Long, Array[Float])], qe: Array[Float]): Seq[Long] =
    centroids.map { case (cid, ce) => (cid, cosineTo(qe, ce)) }
      .sortBy { case (cid, c) => (-c, cid) }.map(_._1)

  /** [[rankCells]] under the same 4-decimal HALF_UP rounding Spark's
    * `round(_, 4)` applies in the batch probe's scoring join
    * ([[knnJoinIvfInt8Codes]]): a near-tie whose cosines agree at 4 dp
    * ranks by LOWEST cid on both paths, so a single-vector probe and a
    * batch probe of the same query select the SAME cells (round-12
    * residual #2 — the two public probe APIs must not diverge on a
    * near-tie). The rounding is the literal arithmetic Spark's `Round`
    * executes on doubles (`BigDecimal(d).setScale(4, HALF_UP)`). */
  def rankCellsRounded(centroids: Seq[(Long, Array[Float])], qe: Array[Float]): Seq[Long] =
    centroids.map { case (cid, ce) =>
      (cid, BigDecimal(cosineTo(qe, ce))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (cid, c) => (-c, cid) }.map(_._1)

  /** The shared driver-side cosine: left-to-right double dot,
    * norm(q)·norm(ce) multiply order, zero-denom → 0.0 — the same
    * arithmetic as the engine/oracle cosine kernel (package-visible so
    * the streaming semantic gate's in-state compare is bit-identical to
    * the batch tier's codegen'd cosine). */
  private[graft] def cosineTo(qe: Array[Float], ce: Array[Float]): Double = {
    var qs = 0.0
    qe.foreach(x => qs += x.toDouble * x.toDouble)
    val qn = math.sqrt(qs)
    var sq = 0.0
    ce.foreach(x => sq += x.toDouble * x.toDouble)
    val denom = qn * math.sqrt(sq)
    var dot = 0.0
    var i = 0
    val m = math.min(qe.length, ce.length)
    while (i < m) { dot += qe(i).toDouble * ce(i).toDouble; i += 1 }
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Collect a small centroid relation to the driver for the
    * [[assignToCentroidsLocal]] / literal-probe path. */
  def collectCentroids(centroids: DataFrame, centIdCol: String = "cent_id",
                       centVecCol: String = "ce"): Seq[(Long, Array[Float])] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids
      .select(col(centIdCol).cast("long"), col(centVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
  }

  /** IVF search: probe only the query's nearest cell, exact top-k inside.
    * `assigned` is the output of [[assignToCentroids]] (at scale this is
    * written bucketed/partitioned by cent_id so a probe prunes partitions).
    * This overload keeps the DISTRIBUTED probe (cell choice via
    * [[assignToCentroids]]) — the path for centroid relations too large to
    * collect; use the Seq overload when the centroids are driver-resident. */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, query: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryVecCol: String = "qe"): DataFrame = {
    val probedCell = assignToCentroids(
      query.select(lit(-1L).as(idCol), col(queryVecCol).as(vecCol)), centroids,
      idCol, vecCol).select(col("cent_id"))
    probeCell(assigned, probedCell, query, k, idCol, vecCol, queryVecCol)
  }

  /** [[ivfTopK]] with driver-resident centroids: the probe cell is chosen
    * by the same zero-shuffle literal argmax as
    * [[assignToCentroidsLocal]]. */
  def ivfTopK(assigned: DataFrame, centroids: Seq[(Long, Array[Float])], query: DataFrame,
              k: Int, idCol: String, vecCol: String, queryVecCol: String): DataFrame = {
    val probedCell = assignToCentroidsLocal(
      query.select(lit(-1L).as(idCol), col(queryVecCol).as(vecCol)), centroids,
      idCol, vecCol).select(col("cent_id"))
    probeCell(assigned, probedCell, query, k, idCol, vecCol, queryVecCol)
  }

  /** Shared tail of both [[ivfTopK]] overloads: scan only the probed cell,
    * exact cosine top-k inside. */
  private def probeCell(assigned: DataFrame, probedCell: DataFrame, query: DataFrame,
                        k: Int, idCol: String, vecCol: String,
                        queryVecCol: String): DataFrame =
    assigned.join(broadcast(probedCell), "cent_id")
      .crossJoin(broadcast(query))
      .select(col(idCol), round(cosine(col(vecCol), col(queryVecCol)), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Batch k-NN JOIN via IVF — every query row gets its top-k corpus
    * neighbors by rounded cosine. This is the retrieval/contamination
    * primitive a training-data pipeline runs at scale (match a whole
    * eval set, not one probe vector, against the corpus), and the shape
    * is what keeps it off the q×n cliff:
    *
    *  - corpus rows are cell-assigned ONCE (the zero-shuffle literal
    *    argmax kernel of [[assignToCentroidsLocal]]);
    *  - each query ranks the k×dim centroid literals (a broadcast of the
    *    tiny centroid relation, map-side window per query) and probes
    *    its `nProbe` best cells;
    *  - candidates are a CELL EQUI-JOIN (probed cells ⋈ assigned corpus)
    *    — candidate count ≈ |queries|·nProbe·(n/k), never |queries|·n;
    *  - exact rounded cosine + per-QUERY top-k window (partitioned by
    *    query id — thousands of independent partitions, no global sort).
    *
    * Rounding to 4dp with lowest-id ties on BOTH the probe ranking and
    * the final ranking makes the result engine-portable (the q44/q69
    * oracle discipline). Output: (qIdCol, idCol, sim, rank<=k). */
  def knnJoinIvf(corpus: DataFrame, queries: DataFrame,
                 centroids: Seq[(Long, Array[Float])], k: Int, nProbe: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 qIdCol: String = "q_id", qVecCol: String = "qe"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe must be in [1, ${centroids.size}], got $nProbe")
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // NOT norm-hoisted (round-16 A/B): candidates ≈ |q|·nProbe·cell can be
    // SMALLER than the corpus, so paying a norm per corpus row to save two
    // per candidate measured as a net loss on q159/q146
    val assigned = assignToCentroidsLocal(corpus, centroids, idCol, vecCol)
    val centsDf = centroids.toDF("cent_id", "ce")
    val wq = Window.partitionBy(col(qIdCol)).orderBy(col("_cs").desc, col("cent_id"))
    val probed = queries.crossJoin(broadcast(centsDf))
      .select(col(qIdCol), col(qVecCol), col("cent_id"),
        round(cosine(col(qVecCol), col("ce")), 4).as("_cs"))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nProbe)
      .select(col(qIdCol), col(qVecCol), col("cent_id"))
    val wk = Window.partitionBy(col(qIdCol)).orderBy(col("sim").desc, col(idCol))
    probed.join(assigned, "cent_id")
      .select(col(qIdCol), col(idCol),
        round(cosine(col(qVecCol), col(vecCol)), 4).as("sim"))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic Lloyd's k-means over an `array<float>` column — the
    * training step that produces real IVF centroids (vs. seeding cells from
    * arbitrary ids). Design choices, all for scale + determinism:
    *
    *  - init = the k lowest-id vectors (deterministic, no RNG);
    *  - assignment = [[assignToCentroidsLocal]]: centroid literals compiled
    *    into ONE zero-shuffle scan per iteration, max-cosine with id
    *    tie-break;
    *  - update = per-dimension mean via posexplode + decimal-exact sums
    *    (a float sum's value depends on shuffle arrival order; the decimal
    *    accumulator makes the centroid bit-stable run-to-run), then the
    *    k×dim result — a few KB — is collected and rebroadcast, exactly
    *    the MLlib topology (state that small belongs on the driver);
    *  - a cell that loses all members keeps its previous centroid.
    *
    * Fixed iteration count, no convergence test: deterministic cost and
    * output. Returns (`cent_id`, `ce: array<float>`). */
  def kmeans(vectors: DataFrame, k: Int, iterations: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    var centroids = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cent_id"), col(vecCol).as("ce"))
      .as[(Long, Array[Float])].collect().toSeq
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    for (_ <- 0 until iterations) {
      // literal-centroid map-side argmax: each iteration is ONE scan with
      // zero shuffles before the per-dimension mean aggregation
      val assigned = assignToCentroidsLocal(vectors, centroids, idCol, vecCol)
      // ONE shuffle per iteration: partial sums combine map-side down to
      // k x dim rows; the tiny (cent_id, pos, mean) relation is assembled
      // into arrays on the driver (it is collected anyway) rather than
      // paying a second collect_list shuffle for the grouping.
      // Mean = exact decimal sum -> double -> IEEE double division ->
      // float. Every step is deterministic AND engine-portable: the sum is
      // exact (decimal), the decimal->double and double->float conversions
      // round-to-nearest in any IEEE engine, and double/int division is
      // exact IEEE — unlike decimal DIVISION, whose precision/scale rules
      // are engine-specific (that formulation blocked a DuckDB oracle).
      val means = assigned
        .select(col("cent_id"), posexplode(col(vecCol)))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("col").cast("decimal(25,10)")).cast("double") / count(lit(1)))
          .cast("float").as("m"))
        .as[(Long, Int, Float)].collect()
        .groupBy(_._1)
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_._2).map(_._3)
        }
      centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    centroids.toDF("cent_id", "ce")
      .select(col("cent_id"), col("ce").cast("array<float>").as("ce"))
  }

  /** Random-hyperplane LSH bucketing: `nBits` sign bits of dot products
    * against deterministic pseudo-random hyperplanes (md5-seeded, so every
    * engine/run derives the same planes). Vectors in the same bucket are
    * likely cosine-similar; a query probes only its own bucket —
    * complementary to [[ivfTopK]] (no centroid assignment pass needed, but
    * recall is probabilistic rather than exact-within-cell). */
  def hyperplaneBucket(vec: Column, dim: Int, nBits: Int = 8, seed: Int = 7): Column = {
    val planes = hyperplanes(dim, nBits, seed)
    val bits = (0 until nBits).map { b =>
      val planeArr = array(planes(b).map(lit): _*)
      when(dot(vec, planeArr.cast("array<float>")) > 0.0, 1L << b).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** The deterministic hyperplane components of [[hyperplaneBucket]], as
    * the DOUBLE values the Spark side turns into literals (the float cast
    * happens downstream, identically in any consumer that mirrors it).
    * Public so an external checker can embed bit-identical plane literals
    * — e.g. the q127 DuckDB oracle. */
  def hyperplanes(dim: Int, nBits: Int, seed: Int = 7): IndexedSeq[IndexedSeq[Double]] =
    (0 until nBits).map { b =>
      // deterministic pseudo-random components in [-1, 1): a tiny splitmix
      // over (seed, bit, i) — cheap, engine-independent, fixed forever
      (0 until dim).map { i =>
        var h = seed.toLong * 0x9E3779B97F4A7C15L + b.toLong * 0xBF58476D1CE4E5B9L + i
        h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 27)
        ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      }
    }

  /** ANN via hyperplane buckets: candidates = the query's bucket, exact
    * cosine top-k inside. At scale the bucketed table is written
    * partitioned by bucket so a probe is a partition-pruned scan.
    *
    * Recall honesty (measured on the driver testdata): hyperplane sign
    * bits are nearly independent of rank when the corpus is
    * near-orthogonal (all cosines ~0.2-0.5, as with random embeddings), so
    * recall@10 can be low — that regime has no sublinear ANN winner.
    * On corpora with genuine near-neighbors (cosine >= ~0.7) the collision
    * probability 1 - theta/pi per bit makes bucket recall high. Tune
    * nBits down (bigger buckets) or probe Hamming-adjacent buckets for
    * more recall; [[ivfTopK]] is the better scale path when a clustering
    * structure exists. */
  def lshTopK(vectors: DataFrame, query: DataFrame, k: Int, dim: Int,
              nBits: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding",
              queryVecCol: String = "qe"): DataFrame = {
    val bucketed = vectors.withColumn("_bucket", hyperplaneBucket(col(vecCol), dim, nBits))
    val queryBucket = query.select(hyperplaneBucket(col(queryVecCol), dim, nBits).as("_bucket"))
    bucketed.join(broadcast(queryBucket), "_bucket")
      .crossJoin(broadcast(query))
      .select(col(idCol), round(cosine(col(vecCol), col(queryVecCol)), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** LSH-banded cosine near-dup pairs — the BLOCK-FIRST scale path that
    * [[cosineNearDupPairs]]'s scaladoc prescribes once neither side fits
    * the broadcast limit. The hyperplane bucket is split into `bands`
    * bit-bands ([[Dedup]]'s rotating-band idea applied to sign bits):
    * candidates = pairs agreeing on AT LEAST ONE band (pigeonhole: any
    * pair within `bands-1` flipped hyperplanes of each other always
    * agrees somewhere), then candidates are exact-verified with the same
    * rounded cosine as the all-pairs form — so output ⊆ exact pairs, with
    * banding recall instead of n²/2 comparisons.
    *
    * Scale shape: bucket bits are map-side; the band explode produces
    * `bands` scalar-keyed rows per vector feeding a shuffled hash self-
    * join (never a nested loop — scalar key, same lesson as
    * [[Dedup.lshCandidates]]). The embedding rides THROUGH the band join
    * (a `bands`·n-row shuffle of vectors), so no candidate-sized exchange
    * ever happens: a pair agreeing in several bands is emitted only from
    * its FIRST agreeing band — a codegen'd bit test on the two full
    * bucket words inside the join condition — which replaces the classic
    * candidate `distinct` (an O(candidates) shuffle, the dominant cost:
    * candidates ≫ `bands`·n) and the two embedding re-fetch joins
    * (two more O(candidates) shuffles). Each surviving pair pays ONE
    * codegen'd cosine, evaluated join-side so only passing rows
    * materialize. Deterministic splitmix planes make the candidate set —
    * and therefore the result — oracle-checkable (q143).
    *
    * OPERATOR FRONT DOOR: new callers should reach this tier through
    * [[lshBandedNearDupPairsAuto]] (or [[lshBandedNearDupPairsAutoZone]]
    * for lake-resident corpora — recall probe memoized per generation),
    * which measures the corpus's sampled recall at the operating point
    * and dispatches base-vs-multi-probe; calling the base tier directly
    * silently loses moderate-cosine near-dups on structured corpora
    * (plantstats: recall 0.125 at cosine 0.7). The q143 hash contract
    * stays pinned to this base tier. */
  def lshBandedNearDupPairs(vectors: DataFrame, threshold: Double, dim: Int,
                            nBits: Int = 8, bands: Int = 2,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    lshBandedScoredPairs(vectors, dim, nBits, bands, idCol, vecCol,
      threshold = Some(threshold))

  /** Corpus-derived band WIDTH for the banded near-dup tier — the
    * adaptive-knob pattern (adaptiveK, adaptiveShingleDfCap) applied to
    * the third frozen quadratic: with a fixed width w, per-band
    * candidates are ~n²/2^w — quadratic in corpus size (measured by
    * `Probe bandstats`: 90k candidates for 24 output pairs at n=2000,
    * 0.03 % precision). This picks the smallest width whose 2^w buckets
    * hold ≤ 8 expected vectors each (2^w · 8 ≥ n), floor 8 (the historic
    * width — every oracle-checked scale lands there, so hashes are
    * unchanged), cap 15 (4 bands × 15 = 60 bits, the single-long bucket
    * encoding's ceiling; past ~2^15·8 ≈ 260k vectors per partition of
    * the problem, the IVF-cell tier with adaptive k is the declared
    * path). Bounded occupancy makes candidates ≈ bands · 4n — LINEAR.
    * Integer ladder, mirrored bit-for-bit into the q143 oracle CTE. */
  def adaptiveBandBits(n: Long): Int =
    (8 to 15).find(b => (1L << b) * 8L >= n).getOrElse(15)

  /** The band-join candidate relation UNDER the cosine, pre-threshold —
    * every (a_id, b_id, sim) pair agreeing on at least one band, emitted
    * once (first-agreeing-band dedup). Split out so candidate count can
    * be measured against output count (SURVEY §9 records it) —
    * the precision number that says whether the tier is verify-bound
    * (low precision: candidates dominated by non-dups, tune the bands)
    * or output-bound (high precision: cost ≈ result cardinality, the
    * floor). */
  private[graft] def lshBandedScoredPairs(vectors: DataFrame, dim: Int,
                                          nBits: Int = 8, bands: Int = 2,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding",
                                          threshold: Option[Double] = None): DataFrame = {
    require(nBits % bands == 0, s"nBits=$nBits not divisible by bands=$bands")
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val withBkt = vectors
      .select(col(idCol), col(vecCol),
        hyperplaneBucket(col(vecCol), dim, nBits).as("_bkt"),
        // norm hoisted out of the pair verify: one vector kernel per
        // CANDIDATE instead of three (cosineWithNorms, bit-identical)
        sqrt(normSq(col(vecCol))).as("_n"))
      // exchange barrier before the explode: Generate would otherwise
      // re-derive the nBits dot products once per band reference
      .repartition(col(idCol))
    val bandKeys = array((0 until bands).map { b =>
      concat_ws("|", lit(b),
        shiftright(col("_bkt"), b * bandBits).bitwiseAND(lit(mask)))
    }: _*)
    val banded = withBkt.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      col("_n"), col("_bkt"), posexplode(bandKeys).as(Seq("_bi", "_bk")))
    // emit a pair only from the lowest band index where the buckets
    // agree: every band BELOW the joined one must differ. The joined band
    // agrees by the equi-key, so only indices 0..bands-2 need testing.
    def bandOf(side: String, bp: Int) =
      shiftright(col(s"$side._bkt"), bp * bandBits).bitwiseAND(lit(mask))
    val firstAgreeingBand = (0 until bands - 1).map { bp =>
      (col("a._bi") <= lit(bp)) || (bandOf("a", bp) =!= bandOf("b", bp))
    }.reduceOption(_ && _).getOrElse(lit(true))
    // The threshold check belongs as the LAST conjunct of the join
    // condition, placed HERE rather than as a post-join filter: Catalyst
    // pushes a post-join filter into the join as the FIRST conjunct, and
    // conjunct order is evaluation order in the generated code — the
    // dim-wide cosine would run for every key collision BEFORE the
    // cheap bit tests that discard most of them (measured 2× on the
    // dense-corpus scratch; the multi-probe variant pays 37× collisions,
    // where the wrong order cost 10×+).
    val cond0 = col("a._bk") === col("b._bk") && col("a._id") < col("b._id") &&
      firstAgreeingBand
    val cond = threshold match {
      case Some(t) =>
        cond0 && round(cosineWithNorms(col("a._v"), col("b._v"),
          col("a._n"), col("b._n")), 4) >= t
      case None => cond0
    }
    banded.as("a").join(banded.as("b"), cond)
      .select(col("a._id").as("a_id"), col("b._id").as("b_id"),
        round(cosineWithNorms(col("a._v"), col("b._v"),
          col("a._n"), col("b._n")), 4).as("sim"))
  }

  /** Multi-probe variant of [[lshBandedNearDupPairs]] — the recall knob
    * for STRUCTURED corpora (round-13 directive #4): each vector
    * publishes, per band, its band key PLUS every single-bit flip of it
    * (the Hamming-ball-1 probe set — Lv et al. VLDB'07's multi-probe
    * idea applied to the band self-join, the q141 pattern at pair
    * granularity). Two vectors then collide in a band iff their band
    * bits are within Hamming 2 — a true pair that straddles one or two
    * hyperplanes of every band (exactly how planted near-dups at
    * moderate cosine get lost: P[band agrees] = (1-θ/π)^bandBits decays
    * fast in the adaptive width) is recovered instead of dropped.
    * Per-vector keys grow from `bands` to `bands·(bandBits+1)`; output
    * ⊆ exact pairs (same rounded-cosine verify) and ⊇ the base tier's.
    *
    * Exactly-once WITHOUT a candidate-sized distinct (the base tier's
    * discipline): a pair is emitted only from its FIRST band at
    * Hamming ≤ 2, and only at that band's canonical WITNESS key — the
    * deterministic element of the two probe balls' intersection
    * (d = 0: the common key; d = 1: the smaller of the two endpoints;
    * d = 2: flip a's lowest differing bit), computed from the two full
    * bucket words inside the join condition. Every surviving pair pays
    * ONE codegen'd cosine, join-side. */
  def lshBandedNearDupPairsMultiProbe(vectors: DataFrame, threshold: Double,
                                      dim: Int, nBits: Int = 8, bands: Int = 2,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding"): DataFrame =
    lshBandedMultiProbeScoredPairs(vectors, dim, nBits, bands, idCol, vecCol,
      threshold = Some(threshold))

  /** The multi-probe candidate relation UNDER the cosine, pre-threshold
    * (the [[lshBandedScoredPairs]] counterpart for the multi-probe tier)
    * — split out so candidates can be measured against output at sf3 (round-13 directive #4: prove the
    * witness-key discipline's cost ≈ output cardinality at 3× data). */
  private[graft] def lshBandedMultiProbeScoredPairs(vectors: DataFrame, dim: Int,
                                                    nBits: Int = 8, bands: Int = 2,
                                                    idCol: String = "vec_id",
                                                    vecCol: String = "embedding",
                                                    threshold: Option[Double] = None): DataFrame = {
    require(nBits % bands == 0, s"nBits=$nBits not divisible by bands=$bands")
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val withBkt = vectors
      .select(col(idCol), col(vecCol),
        hyperplaneBucket(col(vecCol), dim, nBits).as("_bkt"),
        // norm hoisted out of the pair verify (same as the base tier)
        sqrt(normSq(col(vecCol))).as("_n"))
      .repartition(col(idCol))
    // probe keys: per band, the band's bits plus each single-bit flip,
    // packed as (band << bandBits) | bits — one scalar long per key
    val keys = array((0 until bands).flatMap { b =>
      val base = shiftright(col("_bkt"), b * bandBits).bitwiseAND(lit(mask))
      (base +: (0 until bandBits).map(j => base.bitwiseXOR(lit(1L << j))))
        .map(bits => bits + lit(b.toLong << bandBits))
    }: _*)
    val banded = withBkt.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      col("_n"), col("_bkt"), explode(keys).as("_bk"))
    def bandOf(side: String, bp: Int) =
      shiftright(col(s"$side._bkt"), bp * bandBits).bitwiseAND(lit(mask))
    def diffAt(bp: Int) = bandOf("a", bp).bitwiseXOR(bandOf("b", bp))
    val bi = shiftright(col("a._bk"), bandBits) // joined band index (both sides)
    def witnessAt(bp: Int) = {
      val aB = bandOf("a", bp)
      val bB = bandOf("b", bp)
      val d = diffAt(bp)
      when(bit_count(d) === 0, aB)
        .when(bit_count(d) === 1, least(aB, bB))
        .when(bit_count(d) === 2, aB.bitwiseXOR(d.bitwiseAND(negate(d))))
        .otherwise(lit(-1L)) // Hamming > 2: the balls cannot intersect
    }
    val witness = (0 until bands).foldLeft(lit(-1L): Column) { (acc, bp) =>
      when(bi === bp, witnessAt(bp)).otherwise(acc)
    }
    // first ≤2-Hamming band: every band BELOW the joined one must differ
    // in at least 3 bits (same static unroll as the base tier's
    // first-agreeing-band test)
    val firstBand = (0 until bands - 1).map { bp =>
      (bi <= lit(bp)) || (bit_count(diffAt(bp)) > 2)
    }.reduceOption(_ && _).getOrElse(lit(true))
    // threshold as the LAST conjunct (same reasoning as
    // [[lshBandedScoredPairs]]): the cheap witness/first-band bit tests
    // must discard the bulk of the 37×-denser ball-1 collisions before
    // any dim-wide cosine runs — a post-join filter gets pushed in FIRST
    val cond0 = col("a._bk") === col("b._bk") && col("a._id") < col("b._id") &&
      col("a._bk").bitwiseAND(lit(mask)) === witness && firstBand
    val cond = threshold match {
      case Some(t) =>
        cond0 && round(cosineWithNorms(col("a._v"), col("b._v"),
          col("a._n"), col("b._n")), 4) >= t
      case None => cond0
    }
    banded.as("a").join(banded.as("b"), cond)
      .select(col("a._id").as("a_id"), col("b._id").as("b_id"),
        round(cosineWithNorms(col("a._v"), col("b._v"),
          col("a._n"), col("b._n")), 4).as("sim"))
  }

  /** EMPIRICAL recall estimate for the base banded tier at an operating
    * point — the corpus-structure signal behind [[lshBandedNearDupPairsAuto]]
    * (round-13 directive #2: base-vs-multi-probe was a manual knob; a
    * user running the base default on a structured corpus silently lost
    * moderate-cosine near-dups — plantstats measured recall 0.125 at
    * cosine 0.7, sf1).
    *
    * Method: take a deterministic hash sample of ~`sampleCap` vectors,
    * find the sample's OWN true near-pairs (rounded cosine ≥ threshold —
    * one broadcast nested-loop join over ≤ sampleCap² pairs, a bounded
    * driver-free job), and measure the fraction that agree on at least
    * one band under the REAL hyperplane buckets at the REAL operating
    * width. This prices in everything the analytic
    * `1-(1-(1-θ/π)^w)^b` curve idealizes away (the deterministic
    * splitmix planes, the corpus's own pair-cosine distribution): on a
    * structured corpus the near-pair mass sits at moderate cosine where
    * band agreement collapses → low estimate; on a near-orthogonal
    * corpus the only pairs ≥ threshold are near-exact duplicates whose
    * bands almost always agree → estimate ≈ 1.
    *
    * Returns 1.0 when the sample contains no qualifying pair (nothing
    * to lose — the base tier is the right default). Deterministic:
    * xxhash64 sampling, integer collision counts. Cost: one map-side
    * scan to sample + one ≤ sampleCap-row broadcast self-join —
    * O(corpus) scan, O(sampleCap²·dim) compare, independent of corpus
    * pair structure; the same cost class as the other corpus-derived
    * knobs (adaptiveBandBits' count, adaptiveShingleDfCap). Pair
    * sampling is quadratic in the row-sampling rate, so the estimate
    * conditions on the pair-cosine DISTRIBUTION, not the pair count —
    * exactly the quantity recall depends on. */
  def estimateBandedRecall(vectors: DataFrame, threshold: Double, dim: Int,
                           nBits: Int = 8, bands: Int = 2,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           sampleCap: Int = 2048): (Double, Long) = {
    require(nBits % bands == 0, s"nBits=$nBits not divisible by bands=$bands")
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val n = vectors.count()
    val rate = math.max(1L, (n + sampleCap - 1) / sampleCap)
    val sample = vectors
      .filter(pmod(xxhash64(col(idCol)), lit(rate)) === 0)
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        hyperplaneBucket(col(vecCol), dim, nBits).as("_bkt"),
        // norm hoisted out of the ≤ sampleCap² nested-loop condition
        sqrt(normSq(col(vecCol))).as("_n"))
    val agree = (0 until bands).map { b =>
      shiftright(col("a._bkt"), b * bandBits).bitwiseAND(lit(mask)) ===
        shiftright(col("b._bkt"), b * bandBits).bitwiseAND(lit(mask))
    }.reduce(_ || _)
    val row = sample.as("a").join(broadcast(sample.as("b")),
        col("a._id") < col("b._id") &&
          round(cosineWithNorms(col("a._v"), col("b._v"),
            col("a._n"), col("b._n")), 4) >= threshold)
      .agg(count(lit(1)).as("t"),
        coalesce(sum(when(agree, 1L).otherwise(0L)), lit(0L)).as("c"))
      .collect().head
    val truePairs = row.getLong(0)
    (if (truePairs == 0L) 1.0 else row.getLong(1).toDouble / truePairs,
      truePairs)
  }

  /** The banded near-dup tier with the base-vs-multi-probe choice made
    * FROM THE CORPUS (round-13 directive #2 — the adaptiveBandBits
    * pattern applied to the last manual knob): when the measured sample
    * recall at the operating point ([[estimateBandedRecall]]) falls
    * below `recallTarget`, the corpus's near-dup mass lives where base
    * bands lose it, and the Hamming-ball-1 multi-probe variant (~7× the
    * base cost, output-bound) is the correct default; otherwise the
    * base tier's cost profile wins and its recall is not the binding
    * constraint. Same output contract either way (exact rounded-cosine
    * verify join-side; output ⊆ true pairs). */
  def lshBandedNearDupPairsAuto(vectors: DataFrame, threshold: Double,
                                dim: Int, nBits: Int = 8, bands: Int = 2,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                recallTarget: Double = 0.8,
                                sampleCap: Int = 2048): DataFrame = {
    val (est, truePairs) = estimateBandedRecall(vectors, threshold, dim,
      nBits, bands, idCol, vecCol, sampleCap)
    if (est < recallTarget) {
      System.err.println(f"[similarity] banded tier AUTO -> multi-probe: " +
        f"sampled recall $est%.3f < target $recallTarget%.2f " +
        f"($truePairs sample pairs >= $threshold)")
      lshBandedNearDupPairsMultiProbe(vectors, threshold, dim, nBits, bands,
        idCol, vecCol)
    } else {
      System.err.println(f"[similarity] banded tier AUTO -> base: " +
        f"sampled recall $est%.3f >= target $recallTarget%.2f " +
        f"($truePairs sample pairs >= $threshold)")
      lshBandedNearDupPairs(vectors, threshold, dim, nBits, bands,
        idCol, vecCol)
    }
  }

  /** [[estimateBandedRecall]] MEMOIZED per [[TxLog]] zone generation —
    * the `ann.health.*` pattern (round-14 directive #5) applied to the
    * auto tier's corpus probe: the estimate is a pure function of the
    * committed rows and the operating point, so after one measurement it
    * lives in the zone's manifest meta keyed by (generation, params),
    * and every later call over the unchanged zone is METADATA-ONLY — a
    * lake plan re-running the auto dispatcher on an idle embedding zone
    * pays three manifest reads, not a corpus `count()` + sample scan.
    * A miss measures once and writes the memo back as a meta-only OCC
    * commit (`memoize = false` for strictly read-only callers). The
    * memo invalidates itself: a new generation (append/replace) or a
    * different operating point misses and re-measures. */
  def estimateBandedRecallZone(spark: org.apache.spark.sql.SparkSession,
                               zone: String, threshold: Double, dim: Int,
                               nBits: Int = 8, bands: Int = 2,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               sampleCap: Int = 2048,
                               memoize: Boolean = true): (Double, Long) = {
    val head = TxLog.latest(spark, zone).getOrElse(sys.error(
      s"estimateBandedRecallZone: $zone has no transaction log"))
    val conf = s"t=$threshold;dim=$dim;nBits=$nBits;bands=$bands;" +
      s"id=$idCol;vec=$vecCol;cap=$sampleCap"
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // memo slots are NAMESPACED by the operating point (round-15 ADVICE:
    // one shared slot made two callers alternating operating points over
    // an unchanged zone miss — and meta-commit — on every call), so
    // multiple operating points coexist in the manifest meta
    val confFp = md5hex(conf).take(12)
    def key(suffix: String) = s"bandedrecall.$confFp.$suffix"
    // each slot keys on the committed FILE SET, not the generation: the
    // memo's own meta-only commit advances the gen without touching data
    // (and so must any other DDL), while an append/replace/compact
    // changes the file set and correctly misses
    // (a merge-on-read delete adds only a key file)
    val filesFp = md5hex((head.files ++ head.keys.keys.map("k " + _)).sorted.mkString("\n"))
    if (head.meta.get(key("files")).contains(filesFp)
        && head.meta.get(key("conf")).contains(conf))
      return (head.meta(key("est")).toDouble, head.meta(key("pairs")).toLong)
    val (est, pairs) = estimateBandedRecall(
      TxLog.readSnapshot(spark, zone, head), threshold, dim, nBits, bands,
      idCol, vecCol, sampleCap)
    val entry = Map(key("files") -> filesFp, key("conf") -> conf,
      key("est") -> est.toString, key("pairs") -> pairs.toString)
    // skip the commit when the stored slot already equals the measurement
    // (a racing twin landed it first): a read-only re-measure must not
    // publish a no-op generation
    if (memoize && !entry.forall { case (k, v) => head.meta.get(k).contains(v) })
      TxLog.commitMeta(spark, zone, "banded-recall-memo", _ => entry)
    (est, pairs)
  }

  /** [[lshBandedNearDupPairsAuto]] over a [[TxLog]] zone, with the
    * recall probe memoized per zone generation ([[estimateBandedRecallZone]])
    * — the operator front door for lake-resident embedding corpora: an
    * idle re-run dispatches from the manifest memo and only the pair
    * join itself touches data. */
  def lshBandedNearDupPairsAutoZone(spark: org.apache.spark.sql.SparkSession,
                                    zone: String, threshold: Double, dim: Int,
                                    nBits: Int = 8, bands: Int = 2,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding",
                                    recallTarget: Double = 0.8,
                                    sampleCap: Int = 2048): DataFrame = {
    val (est, truePairs) = estimateBandedRecallZone(spark, zone, threshold,
      dim, nBits, bands, idCol, vecCol, sampleCap)
    val vectors = TxLog.read(spark, zone)
    val tier = if (est < recallTarget) "multi-probe" else "base"
    System.err.println(f"[similarity] banded tier AUTO (zone memo) -> $tier: " +
      f"sampled recall $est%.3f vs target $recallTarget%.2f " +
      f"($truePairs sample pairs >= $threshold)")
    if (est < recallTarget)
      lshBandedNearDupPairsMultiProbe(vectors, threshold, dim, nBits, bands,
        idCol, vecCol)
    else
      lshBandedNearDupPairs(vectors, threshold, dim, nBits, bands,
        idCol, vecCol)
  }

  /** IVF-cell-blocked exact near-dup pairs — the DATA-ADAPTIVE block-
    * first scale path beside [[lshBandedNearDupPairs]]'s data-oblivious
    * hyperplane bands: assign every vector to its max-cosine centroid
    * (zero-shuffle literal argmax kernel), then exact cosine over pairs
    * INSIDE each cell via a cell equi-join. Candidates ~ Σ_c |cell_c|²/2;
    * on clustered corpora cells are tight and recall is high exactly
    * where near-dups live. Output ⊆ the exact all-pairs result.
    *
    * Scale shape mirrors the banded path: the vector rides through the
    * cell join (one |n|-row shuffle), no candidate-sized exchange, and
    * no pair dedup at all — each vector has exactly ONE block, so a pair
    * can only meet once. Each surviving pair pays one codegen'd cosine,
    * evaluated join-side.
    *
    * TWO blocking knobs, both corpus-derived (round 10 measured 35× time
    * at 3× data with everything frozen; round 11 measured the fix):
    *  1. k must GROW with the corpus — the declared q170 path derives
    *     k = max(16, N/1024) ([[graft.ExtendedQueries.adaptiveK]],
    *     mirrored in the oracle's k-means CTE), so AVERAGE cells stay
    *     near 1024 rows.
    *  2. k-means does not balance: a mega-cell of size c still pays
    *     C(c,2) (measured: one 9.6k-row cell = 46M of sf3's 134M
    *     candidates). Cells above `maxCell` therefore split into
    *     2^b deterministic hyperplane sign-bit sub-buckets, b = the
    *     smallest integer with |cell| ≤ maxCell·2^b (integer ladder,
    *     capped at 8 — engine-exact, no floating log), bounding every
    *     block near maxCell. The planes are the q127 splitmix planes, so
    *     the oracle rebuilds identical blocks from SQL literals.
    *
    * The sub-split is the standard blocking tradeoff: a near-dup pair
    * inside a mega-cell lands in different sub-buckets with probability
    * ~ b·θ/π (θ = their angle — small exactly for near-dups), the same
    * recall contract as the q143 banded path. Cells at or under
    * `maxCell` — ALL cells at every oracle-checked scale — are exact:
    * blk = 0 everywhere and the join degenerates to the pure cell join. */
  /** The blocked assignment the cell-pair tiers join on: `(_id, _cell,
    * _blk, _v)` with `_blk` = masked hyperplane sub-bucket (0 for every
    * cell at or under `maxCell`). Exposed for the scale probe. */
  def ivfCellBlocks(vectors: DataFrame,
                    centroids: Seq[(Long, Array[Float])],
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxCell: Int = 1024): DataFrame = {
    val assigned = assignToCentroidsLocal(vectors, centroids, idCol, vecCol)
      .select(col(idCol).as("_id"), col("cent_id").as("_cell"),
        col(vecCol).as("_v"))
    val cellSizes = assigned.groupBy(col("_cell"))
      .agg(count(lit(1)).as("_csz"))
    // integer ladder over the sub-bucket MASK: (1 << b) - 1 for the
    // smallest b with csz <= maxCell * 2^b, capped at b = 8
    val mask = (1 to 8).foldLeft(lit(0L)) { case (acc, i) =>
      when(col("_csz") > lit(maxCell.toLong << (i - 1)),
        lit((1L << i) - 1L)).otherwise(acc)
    }
    assigned
      .join(broadcast(cellSizes), "_cell")
      .withColumn("_blk",
        hyperplaneBucket(col("_v"), dim = 64, nBits = 8).bitwiseAND(mask))
      .select(col("_id"), col("_cell"), col("_blk"), col("_v"))
  }

  /** [[ivfCellBlocks]]' integer mask ladder as a driver-side function —
    * the SAME arithmetic as the column fold (the last i in 1..8 with
    * `cellSize > maxCell·2^(i-1)` wins), exposed so a consumer that must
    * key state by the batch tier's blocks (the streaming semantic gate,
    * round-14 directive #4) derives bit-identical masks. */
  def subBucketMask(cellSize: Long, maxCell: Int): Long = {
    var mask = 0L
    var i = 1
    while (i <= 8) {
      if (cellSize > (maxCell.toLong << (i - 1))) mask = (1L << i) - 1L
      i += 1
    }
    mask
  }

  /** Per-cell hyperplane sub-bucket masks for `vectors` under the batch
    * ladder — the exact masks [[ivfCellBlocks]] would apply, collected to
    * the driver (k longs, the centroid-collect discipline). Cells at or
    * under `maxCell` are omitted (mask 0 — no sub-split); the map is what
    * [[graft.streaming.StreamSemDedup.cellVerdicts]] takes so a streaming
    * gate blocks a skewed corpus exactly like the batch tier. */
  def cellMasks(vectors: DataFrame, centroids: Seq[(Long, Array[Float])],
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxCell: Int = 1024): Map[Long, Long] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    assignToCentroidsLocal(vectors, centroids, idCol, vecCol)
      .filter(col("cent_id").isNotNull)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
      .map { case (c, n) => c -> subBucketMask(n, maxCell) }
      .filter(_._2 != 0L).toMap
  }

  def ivfCellNearDupPairs(vectors: DataFrame, threshold: Double,
                          centroids: Seq[(Long, Array[Float])],
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          maxCell: Int = 1024): DataFrame = {
    val blocked = ivfCellBlocks(vectors, centroids, idCol, vecCol, maxCell)
      // norm hoisted out of the pair verify, computed once per row on the
      // map side of the cell join (cosineWithNorms is bit-identical)
      .withColumn("_n", sqrt(normSq(col("_v"))))
    // threshold as the LAST conjunct (the lshBandedScoredPairs lesson):
    // a post-join filter is pushed in as the FIRST conjunct, running the
    // dim-wide cosine before the `a < b` test that discards half the
    // cell's equi-matched pairs plus the diagonal
    blocked.as("a").join(blocked.as("b"),
        col("a._cell") === col("b._cell") && col("a._blk") === col("b._blk") &&
          col("a._id") < col("b._id") &&
          round(cosineWithNorms(col("a._v"), col("b._v"),
            col("a._n"), col("b._n")), 4) >= threshold)
      .select(col("a._id").as("a_id"), col("b._id").as("b_id"),
        round(cosineWithNorms(col("a._v"), col("b._v"),
          col("a._n"), col("b._n")), 4).as("sim"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, and within each cluster keep ONE representative of every
    * semantic near-dup group — here the lowest-id member, the house
    * deterministic stand-in for the paper's keep-farthest-from-centroid
    * choice. A vector is dropped iff some LOWER-id cell-mate reaches
    * `threshold` cosine; the decision relation (vec_id, cent_id, kept)
    * is what a corpus-pruning pipeline anti-joins against.
    *
    * Built on [[ivfCellNearDupPairs]]: candidates stay bounded per cell,
    * the drop set is one distinct projection of the pair relation's
    * b-side, and the verdict is a broadcast-able left join of scalar
    * ids — no vector rides past the cell join. At 100 TB the cluster
    * count k scales with the corpus so cells stay bounded; the decision
    * join is linear either way. */
  def semDedupKeep(vectors: DataFrame, threshold: Double,
                   centroids: Seq[(Long, Array[Float])],
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   maxCell: Int = 1024): DataFrame = {
    val assigned = assignToCentroidsLocal(vectors, centroids, idCol, vecCol)
    val dropped = ivfCellNearDupPairs(vectors, threshold, centroids, idCol, vecCol,
        maxCell)
      .select(col("b_id").as(idCol)).distinct()
      .withColumn("__drop", lit(1))
    assigned.select(col(idCol), col("cent_id"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cent_id"),
        col("__drop").isNull.cast("int").as("kept"))
  }

  // ---- int8 scalar quantization — the memory/shuffle scale path ---------

  /** Per-DIMENSION (min, max) of an `array<float>` column — the training
    * step of scalar quantization. One posexplode aggregation with
    * map-side partial min/max, then dim pairs of doubles collect to the
    * driver (bounded state, the kmeans-centroid discipline: 64 dims =
    * 1 KB). Float inputs widen to double EXACTLY, so the returned bounds
    * are engine-portable. */
  def dimMinMax(vectors: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = vectors
      .select(posexplode(col(vecCol)))
      .groupBy(col("pos"))
      .agg(min(col("col").cast("double")).as("mn"),
        max(col("col").cast("double")).as("mx"))
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    (rows.map(_._2), rows.map(_._3))
  }

  /** Quantize an `array<float>` to `array<int>` codes in [-128, 127]:
    * `q_i = floor((v_i - mn_i) / (mx_i - mn_i) * 255 + 0.5) - 128`,
    * clamped; a degenerate dimension (mx == mn) codes to 0. floor(x+0.5)
    * rather than round(): half-even vs half-up conventions differ across
    * engines, floor does not. Every step is IEEE double arithmetic on
    * exactly-widened floats — DuckDB replays it bit-for-bit, so the
    * CODES (not just the scores) are oracle-checkable.
    *
    * Why this tier exists: at 100 TB the float32 corpus is the memory —
    * int8 codes are 4× smaller in cache/shuffle/scan, and candidate
    * scoring becomes an integer dot product (no dequantize), with exact
    * re-ranking only on the short candidate list. This is the standard
    * SQ8 design every vector engine ships. */
  def quantizeInt8(vec: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    require(mins.length == maxs.length, "mins/maxs length mismatch")
    val mnLit = array(mins.toIndexedSeq.map(lit): _*)
    val mxLit = array(maxs.toIndexedSeq.map(lit): _*)
    transform(vec, (x, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      val scaled = floor((x.cast("double") - mn) / (mx - mn) * 255.0 + 0.5) - 128.0
      when(mx === mn, lit(0))
        .otherwise(greatest(lit(-128.0), least(lit(127.0), scaled)).cast("int"))
    })
  }

  /** Integer dot product of two int8 code arrays — the dequantize-free
    * candidate score (same ranking signal as dot on the dequantized
    * values up to the per-dim affine map). Exact long arithmetic: 64
    * dims × 128² is far below 2^53, so the oracle agrees bit-for-bit. */
  def int8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), _ + _)

  /** The composed modern ANN stack — IVF blocking + SQ8 candidate
    * scoring + exact re-rank ([[knnJoinIvf]] × [[quantizeInt8]]): corpus
    * rows are cell-assigned once (zero-shuffle literal argmax) and carry
    * only their int8 CODES through the cell equi-join; candidates are
    * scored by the exact integer dot product; each query's top-`refine`
    * candidates join BACK to the corpus for their float vectors and are
    * re-ranked by exact rounded cosine to top-k.
    *
    * Why the join-back instead of carrying embeddings through the cell
    * join (what [[knnJoinIvf]] does): at 100 TB the float corpus
    * dominates every shuffle it rides — the code column is 1/4 the
    * bytes, and exact vectors are fetched for only |q|·refine winner
    * rows (a broadcastable relation), never for the full candidate set.
    * Recall follows the q181 study: int8 ordering alone loses tail
    * neighbors, the exact re-rank of a small multiple of k recovers
    * them. Deterministic end to end (exact integer scores, rounded
    * cosines, lowest-id ties) — oracle-checkable. */
  def knnJoinIvfInt8(corpus: DataFrame, queries: DataFrame,
                     centroids: Seq[(Long, Array[Float])],
                     mins: Array[Double], maxs: Array[Double],
                     k: Int, nProbe: Int, refine: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qIdCol: String = "q_id", qVecCol: String = "qe"): DataFrame = {
    // codes ride the cell join; floats stay home
    val assigned = assignToCentroidsLocal(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col("cent_id"),
        quantizeInt8(col(vecCol), mins, maxs).as("_code"))
    knnJoinIvfInt8Codes(assigned, corpus, queries, centroids, mins, maxs,
      k, nProbe, refine, idCol, vecCol, qIdCol, qVecCol)
  }

  /** The probe/score/re-rank tail of [[knnJoinIvfInt8]] over an ALREADY
    * ENCODED `codes` relation (`idCol`, `cent_id`, `_code: array<int>`) —
    * shared by the session path (which encodes on the fly, above) and
    * the persisted-index path ([[AnnIndex]], which reads codes committed
    * to a TxLog zone). Bit-identical results by construction: ints and
    * the frozen centroid/bounds literals round-trip parquet exactly, and
    * everything downstream is the same deterministic arithmetic. */
  def knnJoinIvfInt8Codes(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                          centroids: Seq[(Long, Array[Float])],
                          mins: Array[Double], maxs: Array[Double],
                          k: Int, nProbe: Int, refine: Int,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          qIdCol: String = "q_id", qVecCol: String = "qe"): DataFrame = {
    require(k >= 1 && refine >= k, s"need refine >= k >= 1, got k=$k refine=$refine")
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe must be in [1, ${centroids.size}], got $nProbe")
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val assigned = codes
    val centsDf = centroids.toDF("cent_id", "ce")
    val wq = Window.partitionBy(col(qIdCol)).orderBy(col("_cs").desc, col("cent_id"))
    val probed = queries.crossJoin(broadcast(centsDf))
      .select(col(qIdCol), col(qVecCol), col("cent_id"),
        round(cosine(col(qVecCol), col("ce")), 4).as("_cs"))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nProbe)
      .select(col(qIdCol), quantizeInt8(col(qVecCol), mins, maxs).as("_qcode"),
        col("cent_id"))
    val wRef = Window.partitionBy(col(qIdCol)).orderBy(col("_is").desc, col(idCol))
    val winners = probed.join(assigned, "cent_id")
      .select(col(qIdCol), col(idCol), int8Dot(col("_code"), col("_qcode")).as("_is"))
      .withColumn("_rr", row_number().over(wRef))
      .filter(col("_rr") <= refine)
      .select(col(qIdCol), col(idCol))
    // exact vectors only for the winner rows: broadcast |q|·refine ids
    // against the corpus/query relations
    val wk = Window.partitionBy(col(qIdCol)).orderBy(col("sim").desc, col(idCol))
    corpus.select(col(idCol), col(vecCol))
      .join(broadcast(winners), idCol)
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))), qIdCol)
      .select(col(qIdCol), col(idCol),
        round(cosine(col(vecCol), col(qVecCol)), 4).as("sim"))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---- product quantization (PQ) — the sub-byte-per-dim scale path ----

  /** Deterministic PQ codebook seeds: the `k` lowest-id vectors, whose
    * per-subspace slices ARE the codebook (random-sample codebooks, the
    * RNG-free flavor of PQ training — k-means-refined codebooks sharpen
    * the cells but the encode/ADC machinery is identical). k×dim floats
    * collect to the driver: the kmeans-centroid bounded-state
    * discipline. */
  def pqSeeds(vectors: DataFrame, k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding"): Seq[Array[Float]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1).map(_._2)
  }

  /** PQ-encode a vector into `m` sub-byte codes: subspace `s` gets the
    * index of the seed whose slice minimizes squared L2 distance (ties
    * to the lowest index). Entirely map-side — the codebook is literal
    * state inside one codegen'd projection, the [[assignToCentroidsLocal]]
    * topology per subspace. Distances accumulate left-to-right in
    * doubles over exactly-widened floats, so a SQL replay agrees
    * bit-for-bit. At dim=64, m=8, k=16 the code array is 8 small ints
    * (4 bits of information each) — ~16× smaller than the float vector,
    * the representation that makes billion-scale in-memory ANN fit. */
  def pqEncode(vec: Column, seeds: Seq[Array[Float]], m: Int): Column = {
    require(seeds.nonEmpty, "need at least one seed")
    val dim = seeds.head.length
    require(seeds.forall(_.length == dim), "ragged seeds")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    // Round 16 (optimization): the original literal formulation —
    // array((0 until m).map(s => array_min(array(seeds.map(j =>
    // struct(Σ_i (vec[i]-seed[i])², j))*)).getField("j"))) — baked
    // ~3,200 expression nodes into one projection; fused into the ADC
    // stage the generated method blew Janino's 64 KB limit and the whole
    // stage fell back to interpreted execution (guide §4). The codegen'd
    // kernel [[graft.functions.PqEncode]] computes the identical
    // arithmetic (left-to-right double fold over exactly-widened floats,
    // struct-min tie to the lowest index, null slice element -> code 0)
    // behind references[...]; the coalesce preserves the literal form's
    // null-VECTOR result, array of zero codes (all distances null ->
    // struct tie -> j 0 per subspace), which the null-propagating kernel
    // alone would turn into NULL. PqEncodeSpec pins kernel == literal
    // equality, including interpreted == codegen.
    import org.apache.spark.sql.graft.ColumnBridge
    val kernel = ColumnBridge.column(graft.functions.PqEncode(
      ColumnBridge.expression(vec.cast("array<float>")), seeds.toArray, m))
    coalesce(kernel, typedLit(Array.fill(m)(0)))
  }

  /** The ADC lookup table: dot(query slice s, codebook entry (s, j)) for
    * every (query, subspace, entry) — |q|·m·k rows, the broadcastable
    * relation ADC scoring joins against. `cbRelation` builds the (s, j,
    * sub) side from the seeds. Asymmetric-distance scoring is then one
    * equi-join of exploded codes against this table and one ORDER-FREE
    * decimal sum per (query, vector) — no float vector ever rides the
    * scoring join (see q183). */
  def pqCodebookRelation(spark: org.apache.spark.sql.SparkSession,
                         seeds: Seq[Array[Float]], m: Int): DataFrame = {
    import spark.implicits._
    val dim = seeds.head.length
    val dsub = dim / m
    (for {
      s <- 0 until m
      (seed, j) <- seeds.zipWithIndex
    } yield (s, j, seed.slice(s * dsub, (s + 1) * dsub)))
      .toDF("s", "j", "sub")
  }

  /** Exact all-pairs cosine >= threshold (self-join on id inequality).
    *
    * Scale/efficiency shape:
    *  - norms are computed once per VECTOR before the join (n values), not
    *    once per PAIR (n^2/2) — same floating-point result;
    *  - the similarity threshold lives INSIDE the join condition, so the
    *    nested-loop join evaluates the codegen'd
    *    [[graft.functions.FloatVecDot]] kernel on the joined row and only
    *    materializes the (rare) passing pairs — pushing it after the join
    *    copies both embedding arrays for every one of the n^2/2 candidate
    *    rows first (measured ~2x the whole query at sf0.1). */
  /** @param broadcastRef broadcast the build side (default). The all-pairs
    *   form only makes sense when one side fits the broadcast limit — past
    *   that, block FIRST (IVF cell / hyperplane bucket, see class doc) and
    *   run this inside each block; passing false yields a plain (cartesian)
    *   join for the rare non-broadcastable, non-blockable case. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         broadcastRef: Boolean = true): DataFrame = {
    // The streamed side is repartitioned with an EXPLICIT partition count so
    // the nested-loop runs one task per core — a single-file vector table
    // would otherwise put the whole O(n^2) loop on ONE core, and without
    // the explicit count AQE coalesces the tiny shuffle right back to one
    // partition. The build side is broadcast: n vectors, not n^2 pairs.
    val parallelism = vectors.sparkSession.sparkContext.defaultParallelism
    val a = vectors.repartition(parallelism, col(idCol))
      .select(col(idCol).as("a_id"), col(vecCol).as("va"),
        sqrt(normSq(col(vecCol))).as("na"))
    val b0 = vectors.select(col(idCol).as("b_id"), col(vecCol).as("vb"),
      sqrt(normSq(col(vecCol))).as("nb"))
    val b = if (broadcastRef) broadcast(b0) else b0
    val denom = col("na") * col("nb")
    val sim = when(denom === 0.0, lit(0.0)).otherwise(dot(col("va"), col("vb")) / denom)
    val simR = round(sim, 4)
    a.join(b, col("a_id") < col("b_id") && simR >= threshold)
      .select(col("a_id"), col("b_id"), simR.as("sim"))
  }

  /** Sign-bit binary code over dims [from, from+width) (1-based,
    * clamped to the vector length): bit j set iff `vecCol[from+j] > 0`.
    * Two 32-bit halves cover a 64-dim vector without touching the BIGINT
    * sign bit (2⁶³ overflows — the same reason [[Dedup.simhash32]] stays
    * at 32 bits). Codegen'd HOF — no UDF. */
  def signBitCode(vecCol: String, from: Int, width: Int): Column = {
    require(from >= 1 && width >= 1 && width <= 62,
      s"signBitCode needs 1-based from and width in [1,62], got ($from, $width)")
    val hi = from + width - 1
    expr(
      s"""IF(size($vecCol) < $from, CAST(0 AS BIGINT),
         |   aggregate(
         |     sequence($from, int(least(size($vecCol), $hi))),
         |     CAST(0 AS BIGINT),
         |     (acc, i) -> acc + IF(element_at($vecCol, int(i)) > CAST(0 AS DOUBLE),
         |                          shiftleft(CAST(1 AS BIGINT), int(i) - $from),
         |                          CAST(0 AS BIGINT))))""".stripMargin)
  }

  /** Per-group L2-norm statistics — the embedding-QA pass a pipeline runs
    * before trusting a vector column (collapsed or exploded norms are the
    * classic symptom of a broken encoder export). Determinism discipline:
    * the per-vector norm is a sequential in-order fold over the dims
    * (engine-exact), the MEAN goes through exact micro-unit longs
    * (`round(norm·10⁴)` summed as integers — never an order-dependent
    * float sum across rows), min/max are selections, and every output is
    * rounded. One map-side projection + one two-phase agg; nothing
    * vector-sized shuffles (the norm replaces the array before the agg). */
  def normStatsByGroup(vectors: DataFrame, groupCol: String,
                       vecCol: String = "embedding"): DataFrame = {
    val nrm = norm(col(vecCol))
    vectors
      .select(col(groupCol), nrm.as("nv"),
        round(nrm * lit(10000.0), 0).cast("long").as("micro"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(min(col("nv")), 4).as("min_norm"),
        round(max(col("nv")), 4).as("max_norm"),
        round(sum(col("micro")).cast("double")
          / (count(lit(1)).cast("double") * lit(10000.0)), 4).as("mean_norm"))
  }

  /** Per-dimension mean/variance screen — finds dead (zero-variance) and
    * degenerate dimensions before an ANN index or a Matryoshka truncation
    * (q198) commits to them. Scale shape: one posexplode (linear in
    * corpus·dims, value rides as ONE long), one dims-row two-phase agg —
    * the driver never sees more than `dims` rows. Determinism: values are
    * quantized to exact 10⁻⁴ longs at the source, so the sums are exact
    * integers at any row count (|v|≤1 ⇒ Σv² ≤ 10⁸·n — overflow at ~10¹⁰
    * rows, far past any per-job corpus here); mean and variance are then
    * a fixed chain of IEEE ops over those exact inputs, identical on both
    * engines. */
  def dimScreen(vectors: DataFrame, vecCol: String = "embedding",
                deadVarThreshold: Double = 1e-4): DataFrame = {
    val q = vectors
      .select(posexplode(col(vecCol)).as(Seq("p0", "v")))
      .select((col("p0") + 1).as("pos"),
        round(col("v").cast("double") * lit(10000.0), 0).cast("long").as("v4"))
    val meanD = sum(col("v4")).cast("double") /
      (count(lit(1)).cast("double") * lit(10000.0))
    val varD = sum(col("v4") * col("v4")).cast("double") /
      (count(lit(1)).cast("double") * lit(100000000.0)) - meanD * meanD
    q.groupBy("pos")
      .agg(count(lit(1)).as("n"),
        round(meanD, 6).as("mean_v"),
        round(varD, 6).as("var_v"),
        (round(varD, 6) < deadVarThreshold).cast("int").as("is_dead"))
      .orderBy("pos")
  }
}
