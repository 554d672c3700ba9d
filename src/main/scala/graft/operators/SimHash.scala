package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate sketching (SURVEY.md §2.12 L2; Charikar 2002).
  *
  * Bit definition (shared by the Spark path and the DuckDB oracle so they
  * agree exactly): for each distinct whitespace token, md5 -> first 16 hex
  * nibbles -> 64 bits; simhash bit b is 1 iff sum over tokens of
  * (2*bit_b - 1) >= 0.
  *
  * The 64-bit signature is packed into two BIGINT halves (bits 0-31 / 32-63)
  * rather than one long: both engines then compute Hamming distance as
  * bit_count(xor(lo)) + bit_count(xor(hi)) without signed-shift overflow at
  * bit 63, and the pair stage is a compact 2-column self-join — one row per
  * doc, not 64 — so the all-pairs Hamming histogram is O(pairs), not
  * O(pairs x 64) rows.
  */
object SimHash {

  /** (doc_id, pos, sbit): one row per document x bit position. */
  def bitRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    // md5 is projected ONCE per token before the 64-way bit explode —
    // computing it inside the transform lambda would hash every token 64x.
    val bits = toks
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, 63), p -> " +
            "(shiftright(instr('0123456789abcdef', substring(h, (p div 4) + 1, 1)) - 1, " +
            "3 - p % 4) & 1))")))
      .select(col("doc_id"), col("pos"), col("col").as("bit"))
    bits
      .groupBy(col("doc_id"), col("pos"))
      .agg(when(sum(col("bit") * 2 - 1) >= 0, 1).otherwise(0).as("sbit"))
  }

  /** (doc_id, lo, hi): signature packed into two 32-bit halves, via the
    * fused [[SimHashAggregator]] — one compact counter buffer per doc
    * instead of the 64-rows-per-token posexplode over [[bitRows]] (the
    * test-side reference it is pinned against).
    */
  def packed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val agg = udaf(new SimHashAggregator)
    toks
      .select(col("doc_id"), substring(md5(col("tok")), 1, 16).as("h"))
      .groupBy(col("doc_id"))
      .agg(agg(col("h")).as("sig"))
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("lo"), element_at(col("sig"), 2).as("hi"))
  }

  /** Pairwise Hamming-distance histogram over all doc pairs: (h, n_pairs).
    * The pair join runs on the packed one-row-per-doc table (broadcast
    * nested-loop over a kilobyte-scale side), so cost is linear in the pair
    * count with constant per-pair work. At 100 TB, band the packed value
    * into 4x16-bit keys first (pigeonhole: Hamming <= 3 shares a band) and
    * feed candidate pairs here instead of the full cross product.
    */
  def hammingHistogram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = packed(docs, idCol, textCol)
    val a = p.select(col("doc_id").as("da"), col("lo").as("la"), col("hi").as("ha"))
    val b = p.select(col("doc_id").as("db"), col("lo").as("lb"), col("hi").as("hb"))
    a.join(b, col("da") < col("db"))
      .select((bit_count(col("la").bitwiseXOR(col("lb"))) +
        bit_count(col("ha").bitwiseXOR(col("hb")))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** (doc_id, band, bkey): the 4x16-bit band keys, one row per band.
    * Two signatures at Hamming distance <= 3 differ in at most 3 of the
    * 4 bands, so by pigeonhole they agree exactly on at least one band —
    * a bucket equi-join on (band, key) finds every such pair without
    * touching the n^2 space (MinHashLSH.cappedBucketPairs, with its
    * hot-bucket cap).
    */
  private def bandedRows(packed: DataFrame): DataFrame = {
    val mask = lit(0xffffL)
    packed.select(
      col("doc_id"),
      posexplode(array(
        col("lo").bitwiseAND(mask),
        shiftright(col("lo"), 16).bitwiseAND(mask),
        col("hi").bitwiseAND(mask),
        shiftright(col("hi"), 16).bitwiseAND(mask))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
  }

  /** Production near-dup path: banded candidates refined by the exact
    * Hamming distance. Total recall for maxDist <= 3 (the pigeonhole
    * bound) HOLDS UNCONDITIONALLY only with `bucketCap = Int.MaxValue`;
    * under the default cap, a pair whose only agreeing band is an
    * over-cap hot bucket is reached solely through that bucket's
    * representative (group connectivity survives; the individual pair
    * may not — see MinHashLSH.DefaultBucketCap). The all-pairs
    * `hammingHistogram` stays an sf<=0.1 oracle. Returns (da, db, h)
    * with h <= maxDist.
    */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
      bucketCap: Int = MinHashLSH.DefaultBucketCap): DataFrame = {
    require(maxDist <= 3, s"4x16-bit banding only guarantees recall for Hamming <= 3, got $maxDist")
    // signatures feed both the band keys and the refine join; materialize
    // once (cache-release contract: see Dedup.jaccardPairs)
    val p = packed(docs, idCol, textCol).cache()
    val a = p.select(col("doc_id").as("da"), col("lo").as("la"), col("hi").as("ha"))
    val b = p.select(col("doc_id").as("db"), col("lo").as("lb"), col("hi").as("hb"))
    // raw (per-band) candidates: the Hamming refine is a cheap broadcast
    // join + two popcounts, so duplicates (at most 4x, one per agreeing
    // band) are scored and the small post-filter survivor set deduped —
    // cheaper than a distinct shuffle of the candidate multiset
    MinHashLSH.cappedBucketPairs(bandedRows(p), bucketCap, dedup = false)
      .join(a, Seq("da")).join(b, Seq("db"))
      .select(col("da"), col("db"),
        (bit_count(col("la").bitwiseXOR(col("lb"))) +
          bit_count(col("ha").bitwiseXOR(col("hb")))).as("h"))
      .filter(col("h") <= maxDist)
      .distinct()
  }

  /** Sorted-neighborhood near-dup pairs (Manku, Jain & Das Sarma '07,
    * the single-permutation core): sort ALL signatures by unsigned
    * 64-bit value and compare each doc only to its `window` successors
    * in that order — O(N·window) candidate pairs, no banding, no
    * buckets, no hot-key caps. Near-identical texts produce signatures
    * that differ in ≤ maxDist low-weight bits, so they land adjacent in
    * the sorted order with high probability (the production extension —
    * multiple bit-rotations of the sort key, unioned — trades more
    * passes for recall on pairs whose differing bits are high-order).
    *
    * Scale shape: the global sort position comes from
    * [[SequencePacking.keyedPrefixSum]] — range-partition + local
    * cumsum + metadata-scale offsets — NOT a single-task row_number
    * window; the neighbor pairing is a plain shuffle equi-join on the
    * rank after a row-local explode of `window` successor ranks. Every
    * stage is linear in N for fixed window.
    *
    * Returns (da, db, h) with da < db and Hamming h <= maxDist; each
    * unordered pair appears at most once (its rank offset is unique),
    * so no distinct pass is needed.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 6, maxDist: Int = 3): DataFrame =
    sortedNeighborhoodPairsRotated(docs, idCol, textCol, window, maxDist, rotations = 1)

  /** Multi-rotation sorted neighborhood (the full Manku '07 scheme): one
    * sorted pass per LEFT-rotation of the signature in 16-bit steps. A
    * single ordering only finds pairs whose differing bits avoid the
    * high-order region (a high-bit difference separates them in sort
    * order); rotating the key moves every bit region to the top in some
    * pass, so pairs one ordering misses are adjacent in another. Cost
    * is rotations × the linear single-pass cost: the signatures are
    * computed ONCE (cached) and each pass re-ranks two rotated columns;
    * cross-pass duplicates are removed by a distinct over the REFINED
    * survivors (far smaller than the candidate multiset). Hamming
    * refinement always runs on XOR+popcount, which is
    * rotation-invariant, so every pass scores identically.
    */
  def sortedNeighborhoodPairsRotated(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 6, maxDist: Int = 3, rotations: Int = 1): DataFrame = {
    require(window >= 1 && window <= 256, s"window=$window out of the linear regime")
    require(rotations >= 1 && rotations <= 4, s"rotations=$rotations (16-bit steps over 64 bits)")
    val sigs = packed(docs, idCol, textCol)
    // cache-release contract as Dedup.jaccardPairs: multi-pass consumers
    // share the one signature computation
    val base = if (rotations == 1) sigs else sigs.cache()
    val passes = (0 until rotations).map { r =>
      val (rlo, rhi) = rotl(col("lo"), col("hi"), 16 * r)
      onePass(base.select(col("doc_id"), rlo.as("lo"), rhi.as("hi")), window, maxDist)
    }
    if (rotations == 1) passes.head else passes.reduce(_ union _).distinct()
  }

  /** Left-rotation of a 64-bit value held as two non-negative 32-bit
    * halves (lo = bits 0–31, hi = bits 32–63); s ∈ {0, 16, 32, 48}.
    */
  private def rotl(
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
      s: Int): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val mask = lit(0xffffffffL)
    (s % 64) match {
      case 0 => (lo, hi)
      case 32 => (hi, lo)
      case k if k < 32 =>
        (shiftleft(lo, k).bitwiseAND(mask).bitwiseOR(shiftright(hi, 32 - k)),
          shiftleft(hi, k).bitwiseAND(mask).bitwiseOR(shiftright(lo, 32 - k)))
      case k =>
        val j = k - 32 // swap halves, then rotate the remainder
        (shiftleft(hi, j).bitwiseAND(mask).bitwiseOR(shiftright(lo, 32 - j)),
          shiftleft(lo, j).bitwiseAND(mask).bitwiseOR(shiftright(hi, 32 - j)))
    }
  }

  /** One sorted-order pass: global rank by (hi, lo, doc_id) via the
    * distributed prefix sum, each doc paired with its `window`
    * successors (row-local successor-rank explode + equi-join), Hamming
    * refine.
    */
  private def onePass(sigs: DataFrame, window: Int, maxDist: Int): DataFrame = {
    val ranked = SequencePacking.keyedPrefixSum(
        sigs, Nil, Seq(col("hi"), col("lo"), col("doc_id")), lit(1L), "rank_before")
      .select(col("doc_id"), col("lo"), col("hi"),
        (col("rank_before") + 1L).as("rnk"))
    val probe = ranked.select(
      col("doc_id").as("id_a"), col("lo").as("lo_a"), col("hi").as("hi_a"),
      explode(sequence(col("rnk") + 1L, col("rnk") + lit(window.toLong))).as("rnk"))
    probe.join(ranked, "rnk")
      .select(
        least(col("id_a"), col("doc_id")).as("da"),
        greatest(col("id_a"), col("doc_id")).as("db"),
        (bit_count(col("lo_a").bitwiseXOR(col("lo"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi")))).cast("long").as("h"))
      .filter(col("h") <= maxDist)
  }
}
