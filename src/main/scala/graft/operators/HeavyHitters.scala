package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Exact top-k frequent keys via candidate generation + exact recount
  * (Misra–Gries '82 summaries as phase 1; the two-pass trick is the
  * standard distributed spelling, e.g. Berinde et al. '10).
  *
  * The direct spelling (q37: groupBy(key).count over everything) must
  * shuffle one partial-aggregate row per DISTINCT key per partition —
  * at web scale the token vocabulary (typos, ids, numbers) is itself
  * corpus-sized, so that map output is the bottleneck. Here:
  *
  *   - phase 1 scans each partition once, keeping a Misra–Gries
  *     summary of `capacity` counters (amortized O(1) per row: each
  *     decrement-all is paid for by `capacity` prior arrivals). The
  *     union of per-partition summaries provably contains every key
  *     with global count > N/capacity: if a key survives nowhere, its
  *     count is ≤ n_p/capacity in every partition, which sums to
  *     ≤ N/capacity.
  *   - phase 2 recounts ONLY the candidate keys (≤ capacity × #parts,
  *     in practice far fewer) behind a semi-join, so the count shuffle
  *     is candidate-bounded, not vocabulary-bounded.
  *
  * Result correctness is certified when the k-th returned count is
  * > N/capacity (then every key tied with or above it is a candidate,
  * so the top-k — including lexicographic tie-break — is exact). Size
  * `capacity` ≥ k·(expected skew headroom); the spec asserts the
  * containment guarantee on adversarial uniform+skew mixes.
  */
object HeavyHitters {

  /** Misra–Gries summary of one iterator: at most `capacity` keys whose
    * estimated counts undershoot truth by ≤ n/capacity.
    */
  private[operators] def misraGries(
      it: Iterator[String], capacity: Int): mutable.HashMap[String, Long] =
    misraGriesTracked(it, capacity)._1

  /** [[misraGries]] plus whether ANY decrement-all fired. A summary
    * that never decremented is EXACT for its partition (every distinct
    * key seen is a survivor) — when that holds on every partition the
    * candidate set is the complete distinct-key set and the recount is
    * exact at any k, including inputs with fewer than k distinct keys
    * (the N/capacity certificate can't distinguish low cardinality
    * from dropped candidates; this flag can).
    */
  private[operators] def misraGriesTracked(
      it: Iterator[String], capacity: Int): (mutable.HashMap[String, Long], Boolean) = {
    val acc = mutable.HashMap.empty[String, Long]
    var dropped = false
    while (it.hasNext) {
      val k = it.next()
      acc.get(k) match {
        case Some(c) => acc.update(k, c + 1)
        case None if acc.size < capacity => acc.update(k, 1L)
        case None =>
          // decrement-all, dropping zeros (amortized: this O(capacity)
          // step retires `capacity` arrivals' worth of counts)
          dropped = true
          val dead = mutable.ArrayBuffer.empty[String]
          acc.keysIterator.foreach { kk =>
            val c = acc(kk) - 1
            if (c == 0) dead += kk else acc.update(kk, c)
          }
          dead.foreach(acc.remove)
      }
    }
    (acc, dropped)
  }

  /** Per-partition Misra–Gries survivors PLUS one `(null, n_p)` row per
    * partition carrying that partition's row count — so the recount
    * phase learns N (the certificate's denominator) without a third
    * corpus scan: the count rides the same pass that builds the
    * summaries.
    */
  private def candidatesAndCounts(
      keys: Dataset[String], capacity: Int): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.mapPartitions { it =>
      var n = 0L
      val counted = it.map { x => n += 1; x }
      val (acc, droppedAny) = misraGriesTracked(counted, capacity)
      val surv = acc.keysIterator.toArray
      // the null row doubles as the partition's exhaustiveness flag:
      // pn carries n_p, exact carries "no decrement-all fired here"
      Iterator.single((null: String, n, !droppedAny)) ++
        surv.iterator.map(k => (k, 0L, false))
    }.toDF("key", "pn", "exact")
  }

  /** The lazy candidate-recount plan (tok, n): semi-join the corpus to
    * the broadcast candidate set, count, take the top k. The plan the
    * 100 TB story rides — certification happens in [[exactTopK]].
    */
  private[operators] def recountTopK(
      cands: DataFrame, keys: Dataset[String], k: Int): DataFrame =
    // the hint keeps the recount semi-join off the shuffle even when
    // stats are missing; candidates are capacity x #partitions at worst
    // — broadcast-sized by construction for any sane capacity
    keys.toDF("key")
      .join(broadcast(cands), Seq("key"), "left_semi")
      .groupBy(col("key").as("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)
      .select(col("tok"), col("n"))

  /** Exact (tok, n) for the k most frequent values of `keyCol`, ordered
    * by (n DESC, tok ASC). Two corpus scans, zero vocabulary-sized
    * shuffles: the recount is semi-joined to the candidate set first.
    *
    * Certification — CHECKED, not just documented — is one of:
    *
    *   - exhaustive candidates: no partition's Misra–Gries pass ever
    *     fired a decrement-all (the summaries hold every distinct key
    *     exactly), so the recount is a complete exact top-k at any k —
    *     including inputs with FEWER than k distinct keys, where all of
    *     them are returned. This is what certifies the small-cardinality
    *     case the N/capacity certificate below cannot (it can't
    *     distinguish low cardinality from dropped candidates).
    *   - the Misra–Gries containment guarantee: the k-th returned count
    *     exceeds N/capacity (any key the summaries dropped has true
    *     count ≤ N/capacity, so nothing absent can displace the
    *     returned head). Requires ≥ k certified candidates; a violation
    *     (undersized capacity on a near-uniform distribution) throws
    *     with the measured N instead of returning a silently wrong
    *     top-k.
    *
    * The ≤ k returned rows are collected for the check — k is
    * metadata-scale by the operator's contract.
    */
  def exactTopK(df: DataFrame, keyCol: String, k: Int, capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.select(col(keyCol).cast("string").as("key")).as[String]
    val cc = candidatesAndCounts(keys, capacity).cache()
    try {
      val (n, exhaustive) = cc.filter(col("key").isNull)
        .agg(coalesce(sum(col("pn")), lit(0L)),
          coalesce(min(col("exact")), lit(true)))
        .as[(Long, Boolean)].head()
      val cands = cc.filter(col("key").isNotNull).select(col("key")).distinct()
      val top = recountTopK(cands, keys, k)
        .as[(String, Long)].collect()
      if (!exhaustive) {
        require(top.length >= k,
          s"HeavyHitters.exactTopK: only ${top.length} certified candidates for " +
            s"k=$k (N=$n, capacity=$capacity) — the true top-$k may include " +
            "dropped keys; raise capacity")
        val kth = top.last._2
        require(kth * capacity.toLong > n,
          s"HeavyHitters.exactTopK: k-th count $kth fails the certificate " +
            s"(needs > N/capacity = $n/$capacity) — dropped keys could displace " +
            "the tail of the returned top-k; raise capacity")
      }
      spark.createDataset(top.toSeq).toDF("tok", "n")
    } finally { cc.unpersist(); () }
  }
}
