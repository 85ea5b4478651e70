package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (content hash), n-gram Jaccard (inverted index), MinHash+LSH,
  * SimHash. Embedding-cosine near-dup lives in [[Similarity]].
  *
  * Scale design notes:
  *  - Exact dedup is one hash-shuffle with map-side combine.
  *  - The inverted-index Jaccard join only compares pairs sharing >=1
  *    shingle (never the full n^2); `maxShingleDf` drops ubiquitous
  *    shingles, the standard skew guard — a shingle occurring in k docs
  *    contributes k^2 candidate pairs, so frequency-capping bounds the
  *    worst key before the shuffle.
  *  - MinHash signatures are computed entirely map-side via higher-order
  *    functions (one md5 per shingle, then cheap permutation arithmetic);
  *    the only shuffle is the LSH band-bucket self-join, whose keys are
  *    32-bit pairs — tiny rows, well-distributed by construction.
  *  - Everything is md5-based ([[graft.functions.HashFunctions]]) so the
  *    DuckDB oracle reproduces results bit-for-bit.
  */
object Dedup {

  /** Exact duplicate groups by content hash. Output: one row per distinct
    * content with cnt and the min id (the canonical survivor). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("canonical_id"))

  /** Spread a document scan across cores before CPU-heavy text work: a
    * small single-file corpus arrives as ONE input partition, which would
    * run all tokenize/shingle/hash work on a single core. The shuffle
    * moves raw (id, text) rows only — the expensive derived columns are
    * computed after, in parallel. Explicit partition count so AQE cannot
    * coalesce the small shuffle back to one task. */
  private[operators] def spread(docs: DataFrame, idCol: String): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))

  /** The (doc_id, toks) relation the `FromToks` operator variants below
    * consume. Tokenizing is the step EVERY text operator repeats — a
    * caller running several of them over one corpus (the inventory, a
    * real filtering pipeline) should build this once (optionally with
    * `hs` = [[TextAnalysis.tokenHashes]] for the chunking tier), persist
    * or checkpoint it, and fan out; at 100 TB that is the difference
    * between one tokenize pass and one per metric. */
  def docToks(docs: DataFrame, idCol: String, textCol: String,
              withHashes: Boolean = false): DataFrame = {
    val t = spread(docs, idCol)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
    if (withHashes) t.withColumn("hs", TextAnalysis.tokenHashes(col("toks"))) else t
  }

  /** doc -> distinct shingle rows (the inverted index), with optional
    * document-frequency cap on shingles (skew guard; 0 = no cap). */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, maxShingleDf: Long = 0L): DataFrame =
    // Tokenize in its OWN projection: element_at inside the shingle lambda
    // would otherwise inline and re-split the text once per shingle (3x per
    // 3-gram) — Catalyst has no loop-invariant hoisting inside HOF lambdas,
    // and CollapseProject keeps non-cheap multiply-referenced expressions
    // in their own step, so this materializes the token array once per row.
    shingleIndexFromToks(docToks(docs, idCol, textCol), n, maxShingleDf)

  /** [[shingleIndex]] over a pre-tokenized [[docToks]] relation. */
  def shingleIndexFromToks(toks: DataFrame, n: Int = 3,
                           maxShingleDf: Long = 0L): DataFrame = {
    val idx = toks.select(col("doc_id"),
      explode(TextAnalysis.shingles(col("toks"), n)).as("shingle"))
    if (maxShingleDf <= 0) idx
    else {
      val rare = idx.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf).select("shingle")
      idx.join(rare, "shingle")
    }
  }

  /** Exact pairwise n-gram Jaccard >= threshold via the inverted index:
    * join on shared shingle -> per-pair intersection count -> |A u B| from
    * per-doc sizes. Only co-shingled pairs are materialized, and every row
    * past the explode is three scalars — no array payloads cross a shuffle.
    *
    * Algorithm choice, measured: the prefix-filter family (SSJoin/PPJoin —
    * index only each doc's first |A|-ceil(t|A|)+1 shingles in a global
    * order) generates fewer candidates but must verify each by joining the
    * full shingle ARRAYS back in; on corpora without df skew (driver
    * testdata: max shingle df = 25) candidates barely shrink (1.27M rows ->
    * 220K pairs at t=0.8) and the array-carrying verify joins cost more
    * than the all-scalar count aggregation. The count-based form's exposure
    * is a high-df shingle (k docs -> k^2 pair rows); that is what
    * `maxShingleDf` caps on Zipfian corpora, at the documented cost of
    * exactness on pairs whose overlap is entirely ubiquitous shingles
    * (when the cap drops shingles, BOTH the intersection and the per-doc
    * sizes are computed on the capped sets — the estimate stays
    * internally consistent). With the cap at `c`, one shingle contributes
    * at most c(c-1)/2 candidate rows no matter how viral it is; with the
    * cap off a single boilerplate shingle in k documents materializes
    * k²/2 rows — the 100 TB scale-killer. Callers on real corpora should
    * always set a cap above the df of any shingle that still carries
    * similarity signal. */
  /** The shared kernel of [[jaccardPairs]] and [[containmentPairs]]:
    * per co-shingled unordered pair (a_id < b_id), the intersection size
    * and both docs' (capped) shingle-set sizes — `(a_id, b_id, inter,
    * n_a, n_b)`, all exact longs. Every pairwise set-overlap metric
    * (Jaccard, directional containment, overlap/Dice coefficients) is a
    * pure projection of this relation, so a caller running several
    * metrics over the same corpus can compute (or cache) it ONCE. */
  /** The cap LADDER and per-doc candidate budget [[adaptiveShingleDfCap]]
    * solves over — shared constants so the Scala solve and the oracle CTE
    * (TrainingQueries.cappedShingleCtes) can never drift. */
  private[graft] val capLadder: Seq[Long] = Seq(32L, 64L, 128L, 256L, 512L, 1024L)
  private[graft] val capBudgetPerDoc: Long = 512L

  /** Corpus-derived shingle df cap — the adaptiveK pattern
    * (ExtendedQueries.adaptiveK) applied to the pair-stats tier's one
    * frozen knob. The inverted-index join materializes exactly
    * cand(c) = Σ_shingle [df ≤ c] · C(df, 2) rows (a shingle above the
    * cap is DROPPED, so it contributes zero, not C(c,2)); this picks the
    * LARGEST cap from the fixed ladder {32..1024} whose cand(c) fits a
    * per-document candidate budget (512·|docs|), floor 32 — so candidate
    * work is bounded LINEAR in corpus size by construction, instead of
    * growing with the square of duplication density until a frozen cap
    * bites (round-11 measured that quadratic: 1.27M → 31.8M → 229M
    * candidate rows at 5k → 50k → 150k docs under the frozen 256).
    * Everything is exact integer arithmetic (`div`, df·(df−1) is even),
    * and the identical formula is rendered into the oracle CTE, so both
    * engines derive the same cap from the same corpus at ANY scale. On
    * the oracle-checked corpora (sf ≤ 0.1: max df 25, cand ≤ 1.27M ≤
    * 512·5000) the solve returns 1024 — above every df — so all eight
    * consumers' hashes are unchanged; the cap starts biting (and the
    * capped metrics' documented internal-consistency contract kicks in)
    * only where the frozen knob used to blow up. One cheap driver-side
    * collect of a single 6-column row — the df aggregation it rides is
    * map-side-combined (a viral shingle is one register per partition). */
  def adaptiveShingleDfCap(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3,
                           budgetPerDoc: Long = capBudgetPerDoc): Long =
    capFromDfRel(
      shingleIndex(docs, idCol, textCol, n, 0L)
        .groupBy("shingle").agg(count(lit(1)).as("df")),
      docs.count(), budgetPerDoc)

  /** The ladder SOLVE itself, over ANY inverted index's document-
    * frequency relation (a `df` column) — shared by the shingle tier
    * and the winnowing fingerprint tier ([[Winnow]]), so every df-capped
    * pair join in the engine tunes its cap by the same contract. One
    * aggregation pass computes all six ladder sums. */
  private[graft] def capFromDfRel(dfRel: DataFrame, nDocs: Long,
                                  budgetPerDoc: Long): Long = {
    val row = dfRel.select(capLadder.map(c =>
      sum(when(col("df") <= c,
        expr("df * (df - 1) div 2")).otherwise(0L)).as(s"c$c")): _*)
      .collect()(0)
    val budget = budgetPerDoc * nDocs
    capLadder.reverse.find { c =>
      val cand = if (row.isNullAt(row.fieldIndex(s"c$c"))) 0L
                 else row.getAs[Long](s"c$c")
      cand <= budget
    }.getOrElse(capLadder.head)
  }

  /** [[pairStats]] under the corpus-derived [[adaptiveShingleDfCap]] —
    * the self-tuning form every shared-relation consumer should use.
    * FUSED (round 16): the two-call form evaluated the
    * tokenize+shingle+explode kernel twice — once for the cap solve's df
    * relation, once inside [[pairStats]] (whose capped [[shingleIndex]]
    * recomputed df a third time). Here the uncapped index is
    * shingle-partitioned and checkpointed ONCE; the df relation feeds
    * both the ladder solve and the cap filter, and the pair join's
    * sides reuse the stored partitioning. Same cap (identical df
    * relation and [[capFromDfRel]] arithmetic), same output. */
  def pairStatsAdaptive(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3,
                        budgetPerDoc: Long = capBudgetPerDoc): DataFrame = {
    val idx = shingleIndex(docs, idCol, textCol, n, 0L)
      .repartition(col("shingle")).localCheckpoint(true)
    val dfRel = idx.groupBy("shingle").agg(count(lit(1)).as("df"))
    val cap = capFromDfRel(dfRel, docs.count(), budgetPerDoc)
    val capped = idx.join(dfRel.filter(col("df") <= cap).select("shingle"), "shingle")
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(col("a_id"), col("b_id"), col("inter"),
        col("na.n_sh").as("n_a"), col("nb.n_sh").as("n_b"))
  }

  def pairStats(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 3, maxShingleDf: Long = 0L): DataFrame = {
    // Exchange barrier: the index subtree feeds three consumers (sizes +
    // both join sides); identical exchanges are computed once and reused
    // (ReuseExchange), so tokenize+shingle+explode runs a single time.
    val idx = shingleIndex(docs, idCol, textCol, n, maxShingleDf)
      .repartition(col("shingle"))
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    idx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(col("a_id"), col("b_id"), col("inter"),
        col("na.n_sh").as("n_a"), col("nb.n_sh").as("n_b"))
  }

  /** Overlap coefficient from a [[pairStats]] relation:
    * |A∩B| / min(|A|,|B|) — the symmetric cousin of directional
    * containment (it equals the LARGER of the two containment
    * directions), the boilerplate-detection metric that fires whenever
    * EITHER document is mostly contained in the other. Like every
    * metric here, a pure projection of the shared stats relation. */
  def overlapFromStats(stats: DataFrame, threshold: Double): DataFrame = {
    val ov = col("inter").cast("double") / least(col("n_a"), col("n_b"))
    stats.select(col("a_id"), col("b_id"), round(ov, 4).as("overlap"))
      .filter(col("overlap") >= threshold)
  }

  /** Jaccard from a [[pairStats]] relation: |A∩B| / |A∪B|. */
  def jaccardFromStats(stats: DataFrame, threshold: Double): DataFrame = {
    val j = col("inter").cast("double") /
      (col("n_a") + col("n_b") - col("inter"))
    stats.select(col("a_id"), col("b_id"), round(j, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   maxShingleDf: Long = 0L): DataFrame =
    jaccardFromStats(pairStats(docs, idCol, textCol, n, maxShingleDf), threshold)

  /** Directional n-gram containment >= threshold:
    * containment(a -> b) = |sh(a) ∩ sh(b)| / |sh(a)| — the asymmetric
    * near-dup metric that catches near-SUPERSETS (a quoted document, a
    * boilerplate-wrapped copy) where symmetric Jaccard stays low because
    * the union is dominated by the larger document. Output is directional:
    * (a_id, b_id) means "a is mostly contained in b" (and a pair of
    * mutual near-copies appears in both directions).
    *
    * Same inverted-index shape and cost model as [[jaccardPairs]] (only
    * co-shingled pairs materialize, all-scalar shuffles, `maxShingleDf`
    * bounds a viral shingle's candidates to c²/2 instead of k²/2); the
    * only differences are the order-free join predicate (both directions)
    * and the denominator (|sh(a)| instead of the union). */
  /** Directional containment from a [[pairStats]] relation: the
    * intersection size is SYMMETRIC, so the a<b stats row is mirrored
    * into both directions, each dividing by ITS source doc's size. */
  def containmentFromStats(stats: DataFrame, threshold: Double): DataFrame = {
    val both = stats.select(col("a_id"), col("b_id"),
        col("inter"), col("n_a").as("n_src"))
      .unionByName(stats.select(col("b_id").as("a_id"), col("a_id").as("b_id"),
        col("inter"), col("n_b").as("n_src")))
    val c = col("inter").cast("double") / col("n_src")
    both.select(col("a_id"), col("b_id"), round(c, 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Long = 0L): DataFrame =
    containmentFromStats(pairStats(docs, idCol, textCol, n, maxShingleDf), threshold)

  /** Corpus-duplication signal per DOCUMENT (not per pair): the fraction
    * of a doc's distinct n-gram shingles whose document frequency is
    * >= 2 — i.e. shingles that also occur somewhere ELSE in the corpus.
    * This is the per-document "how boilerplate is this text" score a
    * filtering pipeline thresholds on (the Gopher/RefinedWeb
    * duplicate-n-gram rule), and it is linear where the pairwise
    * operators are quadratic: no pair ever materializes, just one df
    * aggregation over shingle keys (map-side partial count — a viral
    * shingle is ONE register per partition, not k² rows) and one join
    * back that stays linear in the index size. The numerator is summed as
    * exact longs (cast to double only for the one IEEE division, rounded),
    * so the hash gate holds cross-engine. */
  def dupShingleFraction(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame =
    dupShingleFractionFromToks(docToks(docs, idCol, textCol), n)

  /** [[dupShingleFraction]] over a pre-tokenized [[docToks]] relation. */
  def dupShingleFractionFromToks(toks: DataFrame, n: Int = 3): DataFrame = {
    // Same exchange barrier as pairStats: the index subtree feeds two
    // consumers (df build + join probe); pinning ONE shingle-hash exchange
    // makes the plans identical so ReuseExchange runs tokenize+shingle
    // once. Without it the df build's partial-agg-below-exchange differs
    // from the probe's raw exchange and the scan runs twice.
    val idx = shingleIndexFromToks(toks, n)
      .repartition(col("shingle"))
    val dfRel = idx.groupBy("shingle").agg(count(lit(1)).as("df"))
    idx.join(dfRel, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        round(sum(when(col("df") >= 2L, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("dup_frac"))
  }

  /** Content-defined chunking: split each document into variable-length
    * token spans whose boundaries are picked by the CONTENT (token-hash
    * mod `modulus` == 0, expected span length = `modulus`), not by fixed
    * offsets — an insertion or deletion only reshapes the chunks around
    * the edit while every other boundary re-synchronizes, which is what
    * makes chunk-level dedup robust to local edits (the storage-dedup
    * CDC idea applied to passage-level text dedup). Output: one
    * (doc_id, chunk) row per span, chunk text = space-joined tokens, in
    * document order. All map-side: token hashes are the shared
    * md5-derived h32 (oracle-reproducible), boundary selection and span
    * slicing are HOFs over the per-row arrays — no shuffle at all. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                modulus: Int = 16): DataFrame =
    // hashes in their OWN projection (the shingleIndex lesson): inlining
    // h32 into the filter lambda would re-derive md5 per index probe
    cdcChunksFromToks(docToks(docs, idCol, textCol, withHashes = true), modulus)

  /** [[cdcChunks]] over a pre-tokenized [[docToks]] relation carrying the
    * `hs` token-hash column (`withHashes = true`) — the md5 pass is the
    * expensive step, so a caller sharing the relation pays it once. */
  def cdcChunksFromToks(toks: DataFrame, modulus: Int = 16): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    toks.select(col("doc_id"), col("toks"), col("hs"))
      .filter(size(col("toks")) >= 1)
      .withColumn("inner", filter(sequence(lit(1), size(col("toks"))),
        i => element_at(col("hs"), i) % modulus === 0))
      // close the tail span; get() is null-safe on the empty boundary
      // list (null === n -> null -> otherwise), unlike element_at(-1)
      // which raises under ANSI semantics
      .withColumn("bnds",
        when(get(col("inner"), size(col("inner")) - 1) === size(col("toks")),
          col("inner"))
          .otherwise(concat(col("inner"), array(size(col("toks"))))))
      .withColumn("starts",
        concat(array(lit(0)), slice(col("bnds"), lit(1), size(col("bnds")) - 1)))
      .select(col("doc_id"), explode(zip_with(col("starts"), col("bnds"),
        (s, e) => concat_ws(" ", slice(col("toks"), s + 1, e - s)))).as("chunk"))
  }

  /** Chunk-level corpus-duplication stats per document: of a doc's
    * [[cdcChunks]] spans, the fraction whose chunk hash occurs >= 2
    * times corpus-wide (counting every occurrence, so a passage repeated
    * WITHIN one document counts too — this is the passage-reuse signal,
    * the sub-document sibling of [[dupShingleFraction]]). Same linear
    * scale shape: one chunk-hash count aggregation (map-side combine, a
    * viral boilerplate chunk is one register per partition) and one
    * linear join back over the shared exchange. */
  def cdcChunkDupStats(docs: DataFrame, idCol: String, textCol: String,
                       modulus: Int = 16): DataFrame =
    cdcChunkDupStatsFromToks(docToks(docs, idCol, textCol, withHashes = true),
      modulus)

  /** [[cdcChunkDupStats]] over a pre-tokenized [[docToks]] relation
    * (with `hs`). */
  def cdcChunkDupStatsFromToks(toks: DataFrame, modulus: Int = 16): DataFrame = {
    val ch = cdcChunksFromToks(toks, modulus)
      .select(col("doc_id"), md5(col("chunk").cast("binary")).as("h"))
      .repartition(col("h"))
    val cnt = ch.groupBy("h").agg(count(lit(1)).as("cnt"))
    ch.join(cnt, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        round(sum(when(col("cnt") >= 2L, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("dup_chunk_frac"))
  }

  /** MinHash signature column (array<long> of `numHashes` mins) from a
    * distinct-shingle array column. One md5 per shingle, then the codegen'd
    * one-pass permutation kernel [[graft.functions.MinHashSig]] — all
    * map-side. Empty shingle set -> P sentinels. */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 32): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val hs = transform(shinglesCol, s => h32(s))
    ColumnBridge.column(
      graft.functions.MinHashSig(ColumnBridge.expression(hs), numHashes))
  }

  /** LSH candidate pairs from signatures banded `bands` x `rowsPerBand`.
    * Self-join on (band index, band slice) equality; candidates only.
    *
    * The band key is flattened to a SCALAR string: a struct holding an
    * array slice is not hash-partitionable, which silently degrades the
    * self-join to a nested-loop over all banded rows (measured 4x the whole
    * query's runtime at sf0.1). A scalar key keeps it a shuffled hash join
    * on well-distributed 32-bit-pair keys. */
  /** The LSH band keys of a signature, flattened to SCALAR strings
    * ("b|slot1|slot2") — shared by the batch candidate join and the
    * streaming first-seen filter so the two tiers band identically. */
  def bandKeyArray(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("|", (lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(sigCol, b * rowsPerBand + r + 1))): _*)
    }: _*)

  def lshCandidates(sigs: DataFrame, idCol: String, sigCol: String,
                    bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKeys = bandKeyArray(col(sigCol), bands, rowsPerBand)
    // Exchange barrier BEFORE the band explode: Generate has no common-
    // subexpression elimination, so without it Catalyst collapses the
    // signature projection into the explode and recomputes the full
    // minhash (md5 + permutations) once per band reference — measured as
    // ~10x the signature cost at sf0.1. The shuffle moves only
    // (id, 32 longs) per doc and the band self-join reshuffles anyway.
    val materialized = sigs.repartition(col(idCol))
    val banded = materialized.select(col(idCol).as("doc_id"), explode(bandKeys).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** MinHash+LSH near-dup detection with exact-Jaccard verification of the
    * candidates (so output = exact pairs >= threshold whenever the banding
    * recall covers the threshold; false positives are always filtered). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
                      threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Docs too short to shingle are excluded up front: they would all share
    // the identical all-P sentinel signature, forming an m^2/2 candidate
    // clique whose verification divides by an empty union (ANSI error) —
    // and a shingle-less doc cannot be an n-gram near-dup of anything.
    // The repartition barrier makes the (scan -> tokenize -> shingle ->
    // filter) subtree ONE reused exchange across its three consumers
    // (signatures + both verification join sides) instead of three full
    // recomputations.
    // The short-doc guard compares TOKEN count (cheap), not the built
    // shingle array: a predicate on the shingle column gets pushed below
    // the projection and re-evaluates the whole shingle expression per row
    // (measured 3x q37's runtime).
    val withSh = spread(docs, idCol)
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), TextAnalysis.shingles(col("toks"), n).as("sh"))
      .repartition(col("doc_id"))
    val sigs = withSh.select(col("doc_id"), minhashSignature(col("sh"), numHashes).as("sig"))
    val cands = lshCandidates(sigs, "doc_id", "sig", bands, rowsPerBand)
    val j = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh")))
    cands
      .join(withSh.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(withSh.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"), round(j, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash ESTIMATE study: for every LSH candidate pair, the
    * signature-agreement estimate (matching slots / numHashes — the
    * unbiased estimator E[est] = J that justifies MinHash dedup at
    * 100 TB, where exact verification of every candidate is the cost
    * ceiling) side by side with the exact Jaccard. Same exclusions and
    * barriers as [[minhashNearDups]]; emits (a_id, b_id, est_jaccard,
    * jaccard) for candidates of ANY similarity (no threshold), so the
    * estimator's spread is visible, not just its high end. */
  def minhashEstimatePairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, numHashes: Int = 32, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val withSh = spread(docs, idCol)
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), TextAnalysis.shingles(col("toks"), n).as("sh"))
      .repartition(col("doc_id"))
    val both = withSh.select(col("doc_id"), col("sh"),
      minhashSignature(col("sh"), numHashes).as("sig"))
    val cands = lshCandidates(both.select("doc_id", "sig"), "doc_id", "sig",
      bands, rowsPerBand)
    val agree = aggregate(
      zip_with(col("sa.sig"), col("sb.sig"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    val est = agree.cast("double") / numHashes
    val jac = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh")))
    cands
      .join(both.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(both.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        round(est, 4).as("est_jaccard"), round(jac, 4).as("jaccard"))
  }

  /** Duplicate CLUSTERS from pairwise near-dup edges: connected components
    * by iterative min-label propagation (each node repeatedly adopts the
    * smallest label among itself and its neighbors until fixpoint). The
    * fixpoint is unique — every node ends with its component's minimum id —
    * so the result is deterministic and oracle-checkable (DuckDB: recursive
    * transitive closure + MIN).
    *
    * Scale shape: this is the standard distributed CC loop (the simple
    * variant of Kiveris et al.'s star algorithms) — per iteration one
    * edge⋈label shuffle join + a min-aggregation, converging in
    * O(component diameter) rounds. Near-dup components are cliques or
    * near-cliques, so 2-3 rounds in practice. `localCheckpoint` cuts the
    * growing lineage each round (iterative plans otherwise re-derive every
    * prior round per action).
    *
    * Output: (`node`, `label`) for every node appearing in any edge. */
  def connectedComponents(edges: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxIterations: Int = 20,
                          smallGraphEdges: Long = 100000L): DataFrame = {
    val spark = edges.sparkSession
    // Node ids must be integral: the long cast below would throw under ANSI
    // on free-form string ids (and with ANSI off would silently null every
    // node, collapsing all components into one). Callers with string ids
    // hash them to long first (e.g. HashFunctions.h64) — loud here beats
    // either failure mode downstream.
    Seq(aCol, bCol).foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = edges.schema(c).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs integral node ids; $c is $dt — " +
          "hash string ids to an integral column first (e.g. graft.functions.HashFunctions.h32)")
    }
    // Materialize the edge relation BEFORE symmetrizing: the union's two
    // branches both reference the (possibly expensive — e.g. a whole LSH
    // dedup pipeline) edge subtree, and through the checkpoint/RDD path
    // there is no exchange reuse, so an un-materialized input is computed
    // twice. One eager checkpoint pins it to a single pass.
    val e0 = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint(true)
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Size-aware fallback: below `smallGraphEdges` the whole edge set fits
    // trivially on the driver, where union-find resolves in O(E α(E)) —
    // versus O(diameter) distributed rounds at ~0.5s of job latency each.
    // Same labels either way (component minimum); the distributed loop
    // below is the 100 TB path and stays the default above the threshold.
    if (sym.count() / 2 <= smallGraphEdges) {
      import spark.implicits._
      val pairs = sym.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      return parent.keys.toSeq.sorted.map(n => (n, find(n)))
        .toDF("node", "label")
    }
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // handle on the checkpoint BACKING `labels` (after round 1 `labels`
    // itself is a projection over it, which Lineage.free won't touch)
    var labelsCp = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val nbrMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // ONE action per round: the convergence signal rides an accumulator
      // bumped while the eager checkpoint materializes the new labels.
      // The previous shape paid a SECOND job per round (joining the new
      // labels back against the old + count) purely to learn whether
      // anything changed — N rounds of pure convergence bookkeeping.
      val acc = spark.sparkContext.longAccumulator("cc_changed")
      val flagged = udf { (c: Boolean) => { if (c) acc.add(1L); c } }
      val updated = labels
        .join(nbrMin, col("node") === col("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          flagged(coalesce(col("nbr_label") < col("label"), lit(false))).as("chg"))
        .localCheckpoint(true)
      // accumulator caveat: a retried task can double-count, but only
      // `== 0` is consulted, so convergence detection stays exact — zero
      // means NO task saw a label shrink during the materializing pass
      converged = acc.value == 0L
      // the superseded generation's blocks are dead now that `updated`
      // is materialized — free them instead of waiting on GC+cleaner
      Lineage.free(labelsCp)
      labelsCp = updated
      labels = updated.drop("chg")
      iter += 1
    }
    // Loud, not wrong: a component wider than maxIterations hops would
    // otherwise silently split into several clusters.
    require(converged,
      s"connectedComponents did not converge in $maxIterations iterations " +
        "(labels still changing) — raise maxIterations")
    labels
  }

  /** 32-bit SimHash over the (repeated) token stream: bit b is set iff the
    * signed sum of token-hash bits at position b is strictly positive.
    * One md5 pass for the token hashes, then the codegen'd one-pass
    * [[graft.functions.SimHash32]] kernel (the nested-HOF formulation
    * re-evaluated the token hashing once per bit). */
  def simhash32(toks: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val hs = TextAnalysis.tokenHashes(toks)
    ColumnBridge.column(graft.functions.SimHash32(ColumnBridge.expression(hs)))
  }

  /** SimHash near-dup pairs: block by PIECE-SUBSET pigeonhole (the
    * Manku/Jain/Das Sarma WWW'07 permuted-table idea in its subset
    * form), verify with exact popcount. The 32-bit code splits into
    * `bands` equal pieces; a pair at hamming ≤ maxHamming differs in at
    * most maxHamming pieces, so it AGREES on every piece of SOME
    * (bands − maxHamming)-subset — blocking on all C(bands, s) subsets
    * of size s = max(1, bands − maxHamming) is therefore EXHAUSTIVE for
    * hamming ≤ bands − s, and the popcount verification makes the output
    * exactly the all-pairs ≤ maxHamming relation (the oracle form),
    * independent of the blocking. s = 1 degenerates to the classic
    * rotating-band scheme.
    *
    * WHY subsets: selectivity. A 1-piece band key has 32/bands bits, so
    * per-band candidates grow n²/2^(32/bands) — the frozen-quadratic
    * shape (measured: ~56M candidate rows at 60k docs with 4×8-bit
    * bands). An s-piece key has s·32/bands bits: for maxHamming = 3,
    * bands = 8 gives 56 subset keys of 20 bits — candidates collapse to
    * near the true-pair count while the per-doc key fan-out stays a
    * constant 56. Keys pack into ONE long (subset index then the s
    * piece values), so the self-join stays a shuffled hash join on
    * scalar keys. Callers keep recall iff bands − s ≥ maxHamming, which
    * s's definition guarantees whenever bands > maxHamming; for
    * bands ≤ maxHamming the guarantee covers only hamming ≤ bands − 1
    * (the legacy contract — such calls should raise `bands`). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bands: Int = 8): DataFrame = {
    require(bands >= 1 && 32 % bands == 0, s"bands must divide 32, got $bands")
    val width = 32 / bands
    val s = math.max(1, bands - maxHamming)
    val subsets = (0 until bands).combinations(s).toIndexedSeq
    require(subsets.size <= 256,
      s"simhashNearDups: C($bands, $s) = ${subsets.size} subset keys per doc " +
        "is past the fan-out budget — lower bands or raise maxHamming")
    // joint bit budget for the packed (index, pieces) key — the multiply-
    // then-add below must never cross the sign bit (32-bit pieces keep
    // s·width ≤ 32, so this holds at every legal geometry; enforced
    // rather than assumed, per the round-12 phashNearDups finding)
    val idxBits =
      if (subsets.size <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros((subsets.size - 1).toLong)
    require(idxBits + s * width <= 63,
      s"simhashNearDups: packed subset key needs $idxBits index bits + " +
        s"${s * width} piece bits > 63 — raise maxHamming or lower bands")
    // Exchange barrier: same Generate-inlining hazard as lshCandidates —
    // without it the subset explode recomputes the signature per key and
    // the self-join duplicates the whole subtree. Tiny rows (id + longs).
    val sh = spread(docs, idCol)
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), simhash32(col("toks")).as("sim"))
      .repartition(col("doc_id"))
    val mask = (1L << width) - 1L
    val keyArr = array(subsets.zipWithIndex.map { case (ss, i) =>
      // one scalar long per key: subset index, then each selected piece
      // (7 bits of index + s·width ≤ 32 bits of pieces — fits easily)
      ss.foldLeft(lit(i.toLong): Column) { (acc, piece) =>
        acc * (1L << width) +
          shiftright(col("sim"), piece * width).bitwiseAND(lit(mask))
      }
    }: _*)
    val banded = sh.select(col("doc_id"), col("sim"), explode(keyArr).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Longest shared contiguous token SPAN per document pair — the
    * exact-substring duplication signal (the suffix-array finding of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022: verbatim-copied passages matter beyond set-overlap
    * metrics like [[jaccardPairs]], which are blind to ORDER). A full
    * distributed suffix array is not a Spark-shaped object; the
    * equivalent bounded form is gram-position chaining: index every
    * n-token gram with its POSITION, join pairs on shared grams, and on
    * each alignment diagonal (pa - pb constant) a run of CONSECUTIVE
    * pa values of length L is a verbatim shared span of L + n - 1
    * tokens. The run-length itself is the classic islands trick
    * (pa - row_number per diagonal is constant within a run).
    *
    * Scale shape: one explode (linear in corpus tokens, positions ride
    * as ints), one df aggregation, and an equi-join on gram whose
    * fan-out `maxGramDf` caps exactly like [[pairStats]]' shingle cap —
    * a boilerplate gram shared by k docs would otherwise materialize
    * k²/2 rows. The cap drops ubiquitous grams from chaining (df-capped
    * runs can SPLIT at a viral gram, shortening reported spans — a
    * sound under-approximation, deterministic and mirrored by the
    * oracle); grams unique to one doc never join. The run windows
    * partition by (pair, diagonal) — thousands of small partitions,
    * never a global or hot-key window. */
  def sharedSpanPairs(toks: DataFrame, n: Int = 8, maxGramDf: Long = 64L,
                      minSpan: Int = 12): DataFrame = {
    require(minSpan >= n, s"minSpan $minSpan below gram length $n is unmeasurable")
    spansFromCandidates(sharedSpanCandidates(toks, n, maxGramDf), n, minSpan)
  }

  /** Diagonal run-chaining over an (a_id, b_id, pa, diag) candidate
    * relation — split out so the scale probe can reuse ONE materialized
    * candidate frame for both its counts. */
  private[graft] def spansFromCandidates(pairs: DataFrame, n: Int,
                                         minSpan: Int): DataFrame = {
    // (a_id, b_id, diag, pa) is unique: a position holds ONE gram, and pb
    // is determined by (pa, diag) — so the islands row_number is total
    val w = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    pairs.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("a_id", "b_id", "diag", "grp").agg(count(lit(1)).as("run"))
      .groupBy("a_id", "b_id")
      .agg((max(col("run")) + lit(n - 1)).as("span"))
      .filter(col("span") >= minSpan)
  }

  /** The df-capped candidate relation [[sharedSpanPairs]] chains runs
    * over — one (a_id, b_id, pa, diag) row per matched gram-position
    * pair. Split out so the candidate count can be measured directly
    * against its contract: each kept gram
    * occurrence set O_g (df ∈ [2, maxGramDf] docs) contributes at most
    * C(|O_g|, 2) rows, so candidates grow with Σ_g |O_g|² — LINEAR in
    * corpus size while per-gram density is bounded by the df cap, and
    * superlinear only if the corpus's duplicated-gram density itself
    * grows (measured sf0.1 → sf1 in SURVEY §9 round 9). */
  private[graft] def sharedSpanCandidates(toks: DataFrame, n: Int,
                                          maxGramDf: Long): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    // grams with 1-based start positions; concat_ws over a slice keeps the
    // gram key a scalar string (same key shape as the shingle tier)
    val grams = toks
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $n)))")).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("gram"))
    // NO pre-join exchange barrier here (round-16 A/B): hash(gram)
    // repartitioning before the df filter measured q187 1.39 -> 1.73 s —
    // the map-side-combined df aggregation plus a second gram projection
    // beats shuffling every raw (doc, p, gram) row before filtering
    val shared = grams.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxGramDf)
      .select("gram")
    val g = grams.join(shared, "gram")
    g.as("a").join(g.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.p").as("pa"), (col("a.p") - col("b.p")).as("diag"))
  }

  /** Cross-source n-gram sharing matrix: for every ordered source pair,
    * the number of DISTINCT n-token grams both emit — the corpus-level
    * contamination map (q146's train/test split check widened to all
    * source pairs; which crawls/dumps overlap enough that
    * keeping both double-counts their text). Scale shape: the distinct
    * (source, gram) projection bounds every gram's join fan-out by the
    * NUMBER OF SOURCES — a viral gram contributes C(s,2) ≤ C(|sources|,2)
    * pair rows no matter how many documents carry it, so unlike the
    * per-document pair tiers no df cap is needed; the output is at most
    * C(|sources|,2) rows. One explode, one distinct agg, one equi-join on
    * gram, one count agg. */
  def crossSourceGramShare(toks: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    val grams = toks
      .filter(size(col("toks")) >= n)
      .select(col("source"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $n)))")).as("gram"))
      // ONE exchange for distinct + both join sides (round 16):
      // hash(gram) clusters equal (source, gram) rows too, so the
      // distinct runs on it without its own (source, gram) exchange and
      // the self-join reuses the same partitioning
      .repartition(col("gram"))
      .distinct()
    grams.as("a").join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
  }
}
