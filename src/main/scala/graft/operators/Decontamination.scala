package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share at least
  * one word n-gram with an evaluation corpus (the GPT-3 appendix-C idiom —
  * Brown et al. 2020 — still the standard pretraining hygiene step).
  *
  * Scale shape: the eval corpus is benchmark-sized (thousands of docs, not
  * billions), so its distinct n-gram set is metadata-scale. It is distinct'd
  * and **broadcast**; the training side then runs a broadcast LEFT SEMI join
  * on its exploded n-grams — narrow over the 100 TB side, no shuffle of the
  * corpus, no driver collect. The per-doc `distinct` on the contaminated-id
  * output is over the (small) flagged set only.
  */
object Decontamination {

  /** Distinct word n-grams of the eval slice of `docs` (rows matching
    * `isEval`). Kept separate so callers can persist/reuse the gram set
    * across many training shards — at 100 TB you compute it once.
    */
  def evalNgrams(docs: DataFrame, textCol: String, isEval: Column, n: Int): DataFrame =
    docs.filter(isEval)
      .select(explode(TextFunctions.wordNgrams(col(textCol), n)).as("gram"))
      .distinct()

  /** Ids of non-eval documents sharing >= 1 word n-gram with the eval set. */
  def contaminatedIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isEval: Column,
      n: Int): DataFrame = {
    val grams = evalNgrams(docs, textCol, isEval, n)
    docs.filter(!isEval)
      .select(col(idCol), explode(TextFunctions.wordNgrams(col(textCol), n)).as("gram"))
      .join(broadcast(grams), Seq("gram"), "left_semi")
      .select(col(idCol))
      .distinct()
  }

  /** Fuzzy decontamination: ids of non-eval documents whose exact shingle
    * Jaccard against SOME eval document reaches `threshold` — the
    * near-duplicate complement of [[contaminatedIds]]'s exact n-gram
    * overlap (verbatim-copy detection catches quotes; this catches
    * lightly-edited restatements of benchmark items).
    *
    * Bipartite MinHash-LSH: both sides share one shingle/signature/band
    * derivation (MinHashLSH.bandKeys — the key contract), then the
    * TRAIN-banded stream joins the EVAL-banded side on (band, bkey). The
    * eval corpus is benchmark-sized, so its banded frame is metadata-scale
    * and **broadcast**: candidate generation is one narrow pass over the
    * 100 TB side — never a train x train bucket blow-up, because only
    * cross-corpus collisions produce candidates. Candidates then go
    * through the standard exact-Jaccard refine (Dedup.jaccardForPairs),
    * so the result is exact-thresholded; LSH affects recall only
    * (P ≈ 0.9998 at J = 0.7 under the default banding — MinHashLSH
    * scaladoc).
    */
  def fuzzyContaminatedIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isEval: Column,
      threshold: Double,
      shingleN: Int = 3,
      numPerms: Int = 128,
      bands: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    fuzzyCrossPairs(docs, idCol, textCol, isEval, threshold,
      shingleN, numPerms, bands, rowsPerBand)
      .select(col("da").as(idCol))
      .distinct()

  /** Incremental corpus-refresh admission — the BATCH analog of the
    * streaming near-dedup (DedupStreams): ids of the `isNew` slice that
    * are near-duplicates (exact shingle Jaccard >= `threshold`) of SOME
    * existing document. Callers anti-join the result against the batch
    * to admit only novel content.
    *
    * Same bipartite machinery as [[fuzzyContaminatedIds]] with the roles
    * reversed: the NEW batch is the small broadcast side, the existing
    * corpus is the 100 TB probe side, and the flagged ids come from the
    * batch. A rejected batch doc keeps its flag as long as ANY partner
    * clears the threshold, so marginal-recall partners can't flip an
    * admission that an exact-duplicate partner already decided.
    */
  def batchNearDuplicateIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isNew: Column,
      threshold: Double,
      shingleN: Int = 3,
      numPerms: Int = 128,
      bands: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    fuzzyCrossPairs(docs, idCol, textCol, isNew, threshold,
      shingleN, numPerms, bands, rowsPerBand)
      .select(col("db").as(idCol))
      .distinct()

  /** Shared bipartite near-dup pair derivation: exact-thresholded
    * (da = bulk side, db = `isSmall` side) pairs with J >= threshold.
    */
  private def fuzzyCrossPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isSmall: Column,
      threshold: Double,
      shingleN: Int,
      numPerms: Int,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    MinHashLSH.requireBandsFit(numPerms, bands, rowsPerBand)
    // one shingle derivation for both sides: signature agg + the refine
    // re-read it, and a per-side re-derivation could never drift.
    // Cache-release contract: see Dedup.jaccardPairs.
    val sh = Dedup.charShingles(docs, idCol, textCol, shingleN).cache()
    val flags = docs.select(col(idCol).as("doc_id"), isSmall.as("__small"))
    // cached: the two branches below would otherwise each re-run the
    // whole shingle->signature->band derivation (measured as the query's
    // dominant cost). One row per (doc, band) — doc-count scale; at
    // 100 TB persist to disk or derive the (tiny) small side from its
    // slice alone. Cache-release contract: see Dedup.jaccardPairs.
    val banded = MinHashLSH.bandKeys(
      MinHashLSH.signatures(sh, numPerms), bands, rowsPerBand)
      .select(col("doc_id"), col("band"), col("bkey"))
      .join(flags, Seq("doc_id"))
      .cache()
    val bulk = banded.filter(!col("__small"))
      .select(col("doc_id").as("da"), col("band"), col("bkey"))
    val small = banded.filter(col("__small"))
      .select(col("doc_id").as("db"), col("band"), col("bkey"))
    val cand = bulk.join(broadcast(small), Seq("band", "bkey"))
      .select(col("da"), col("db"))
    // raw (per-band duplicated) candidates: the refine dedups after
    // thresholding, same trade as MinHashLSH.nearDuplicatePairs
    Dedup.jaccardForPairs(sh, cand, threshold, pairsDistinct = false)
  }
}
