package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * algorithm): hash every word n-gram in document order, slide a window
  * of `w` consecutive hashes, and keep the MINIMUM of each window as a
  * fingerprint. The guarantee is positional: any shared token run of
  * length ≥ n + w − 1 between two documents produces at least one
  * shared fingerprint, while the expected fingerprint density is only
  * 2/(w+1) of the grams — a guaranteed-recall local-similarity sketch
  * at a fraction of the q36 inverted index's size. (MinHash/q37 sketches
  * GLOBAL set resemblance; winnowing detects LOCAL overlap — partial
  * plagiarism, shared boilerplate runs — that a low global Jaccard
  * hides, which is why MOSS uses it.)
  *
  * All integers (md5-derived gram hashes, min, counts) — deterministic
  * on any engine. Window minima take the plain minimum (ties collapse
  * to one fingerprint after the distinct — document-position metadata
  * is not part of this operator's output, so the rightmost-tie rule of
  * the paper's robust variant has nothing to disambiguate here).
  *
  * Scale shape: fingerprint extraction is ONE map-side projection
  * (tokenize → gram-hash → HOF window minima → distinct) — no shuffle,
  * no state; a 100 TB corpus pays a single scan and emits ~2/(w+1) of
  * its gram hashes. Pair generation is the [[Dedup.pairStats]]
  * discipline: explode to an inverted (fingerprint → doc) index, cap
  * the fingerprint document-frequency (a boilerplate fingerprint in k
  * docs would otherwise join k²/2 candidate rows — the skew guard), one
  * hash-partitioned self-equi-join reused by both sides, all-scalar
  * rows throughout. */
object Winnow {

  /** Window-minima fingerprint selection over an ALREADY-MATERIALIZED
    * gram-hash array column: distinct sliding-window (size `w`) minima.
    * Documents with fewer than w grams but at least one keep their
    * single global minimum (the degenerate one-window case); documents
    * with no grams yield the empty array.
    *
    * The caller MUST bind `hg` to a projected column, not an inline
    * expression: this expression references `hg` several times (sizes,
    * minima, fallback), and Catalyst re-evaluates an inlined non-cheap
    * subtree per reference — with the md5 gram-hash chain inlined, the
    * whole corpus was hashed ~4× (measured 26.8 s → 4.4 s at sf0.1
    * for q195 after splitting the projection). Window minima are
    * `least` over w `element_at`s — no per-window array allocation. */
  def windowMinima(hg: Column, w: Int): Column = {
    val mins = array_distinct(transform(
      sequence(lit(1), size(hg) - (w - 1)),
      p => least((0 until w).map(k => element_at(hg, p + k)): _*)))
    when(size(hg) >= w, mins)
      .when(size(hg) >= 1, array(array_min(hg)))
      .otherwise(array().cast("array<long>"))
  }

  /** (doc_id, fp) inverted-index rows over a [[Dedup.docToks]]-shaped
    * relation (`doc_id`, `toks`). The gram-hash array gets its OWN
    * projection step so the md5 chain runs once per document, not once
    * per reference (the Dedup.shingleIndex lesson). */
  def fingerprintIndex(toks: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    require(n > 0 && w > 0, s"n and w must be positive, got n=$n w=$w")
    toks
      .select(col("doc_id"),
        transform(graft.operators.TextAnalysis.ngramStream(col("toks"), n),
          g => HashFunctions.h32(g)).as("hg"))
      .select(col("doc_id"), explode(windowMinima(col("hg"), w)).as("fp"))
  }

  /** Corpus-derived fingerprint df cap — [[Dedup.capFromDfRel]]'s
    * ladder solve applied to the winnowing index (the same self-tuning
    * contract as the shingle tier's [[Dedup.adaptiveShingleDfCap]];
    * mirrored into the q195 oracle CTE). At every oracle-checked scale
    * it resolves above the corpus max df, so results are unchanged. */
  def adaptiveFpDfCap(toks: DataFrame, n: Int = 3, w: Int = 4,
                      budgetPerDoc: Long = Dedup.capBudgetPerDoc): Long =
    Dedup.capFromDfRel(
      fingerprintIndex(toks, n, w).groupBy("fp").agg(count(lit(1)).as("df")),
      toks.count(), budgetPerDoc)

  /** [[sharedFingerprintPairs]] under the corpus-derived cap, computing
    * the fingerprint index ONCE (round 16): the previous two-call form
    * ([[adaptiveFpDfCap]] then [[sharedFingerprintPairs]]) evaluated the
    * winnowing kernel three times per run — once for the cap solve's df
    * relation, once for the pair join's df filter, once for the join's
    * index. Here the index is fp-partitioned and checkpointed once; the
    * df relation, the identical [[Dedup.capFromDfRel]] ladder solve, and
    * both join sides all read it — same cap, same output, one kernel
    * evaluation and one exchange. */
  def sharedFingerprintPairsAdaptive(toks: DataFrame, n: Int = 3, w: Int = 4,
                                     budgetPerDoc: Long = Dedup.capBudgetPerDoc,
                                     minShared: Long = 2L): DataFrame = {
    val idx = fingerprintIndex(toks, n, w)
      .repartition(col("fp")).localCheckpoint(true)
    val dfRel = idx.groupBy("fp").agg(count(lit(1)).as("df"))
    val cap = Dedup.capFromDfRel(dfRel, toks.count(), budgetPerDoc)
    val capped = idx.join(dfRel.filter(col("df") <= cap).select("fp"), "fp")
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** Candidate pairs sharing ≥ `minShared` winnowing fingerprints:
    * (a_id, b_id, shared_fp). `maxFpDf` caps the document frequency of
    * an indexed fingerprint (0 = no cap) — the same skew guard, with
    * the same internal-consistency contract, as [[Dedup.pairStats]];
    * [[adaptiveFpDfCap]] derives the scale-safe value (or use
    * [[sharedFingerprintPairsAdaptive]], which fuses the two calls). */
  def sharedFingerprintPairs(toks: DataFrame, n: Int = 3, w: Int = 4,
                             maxFpDf: Long = 256L,
                             minShared: Long = 2L): DataFrame = {
    val idx = fingerprintIndex(toks, n, w)
    val capped =
      if (maxFpDf <= 0) idx
      else idx.join(
        idx.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxFpDf).select("fp"),
        "fp")
    // one exchange on fp, reused by both join sides (ReuseExchange)
    val r = capped.repartition(col("fp"))
    r.as("a").join(r.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }
}
