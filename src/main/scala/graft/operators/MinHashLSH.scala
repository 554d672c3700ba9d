package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** MinHash + LSH banding for near-duplicate candidate generation
  * (SURVEY.md §2.12 L2; scheme per Broder 1997 / MMDS ch.3).
  *
  * Pipeline: shingles -> per-permutation min-hash signature -> band keys ->
  * bucket self-join -> distinct candidate pairs. The signature aggregation
  * is a single groupBy(doc_id) with `numPerms` min() columns — fully
  * partial-aggregatable, one shuffle. Band bucketing is a second shuffle on
  * the band key; bucket joins only touch same-bucket docs, which is the
  * whole point at 100 TB: candidate generation is linear in bucket sizes,
  * never all-pairs.
  *
  * Recall tuning: P(candidate | J) = 1 - (1 - J^rows)^bands. Defaults
  * (rows=4, bands=32) give P = 0.99985 at J = 0.7 while pruning ~99.6% of
  * the J~0.25 background pairs a self-similar token-soup corpus produces —
  * rows=2/bands=64 had total recall but degenerated to all-pairs candidate
  * sets on such corpora. Raise bands for recall, rows for selectivity.
  */
object MinHashLSH {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[operators] val Prime = 2147483647L // 2^31 - 1, Mersenne

  /** Per-(band, key) bucket size above which the all-pairs self-join is
    * replaced by a star through the bucket's min-doc representative. A
    * pathological corpus (thousands of boilerplate-identical documents)
    * puts K docs in one bucket and K^2 candidate rows into the refine —
    * the one shape banding doesn't bound. In practice oversized buckets
    * are boilerplate-identical groups, but a band collision is
    * probabilistic, NOT a similarity guarantee: star-linking (K-1
    * pairs, each still exactly refined) preserves dup-GROUP
    * connectivity for clustering while reducing pairwise recall inside
    * the hot bucket — two docs whose only shared band is an over-cap
    * bucket are only reached through the representative. Set the cap to
    * Int.MaxValue where unconditional recall matters more than bounded
    * cost.
    *
    * `SPARK_GRAFT_BUCKET_CAP` overrides the default for a whole JVM —
    * the scale-tier gate runs use it to hash-compare the uncapped pair
    * sets against the (cap-blind) SQL oracles at tiers where a hot
    * bucket crosses 1024, while cap ENGAGEMENT itself is exercised by
    * ScaleSmoke and the hot-bucket specs at the default.
    */
  val DefaultBucketCap: Int =
    sys.env.get("SPARK_GRAFT_BUCKET_CAP").map(_.toInt).getOrElse(1024)

  /** Candidate pairs from banded rows (doc_id, band, bkey) with the
    * hot-bucket cap applied. Bucket statistics ride a window over the
    * same (band, bkey) shuffle the self-join needs; buckets over `cap`
    * are star-joined, the rest all-pairs'd bucket-locally. Shared by
    * MinHash banding and SimHash pigeonhole banding.
    *
    * `logOverflow` (default true) counts and warns about capped buckets
    * — an EAGER statistic: it executes the banding pipeline into the
    * cache at call time (the downstream joins then reuse it). Callers
    * composing a plan for later execution should pass false to stay
    * lazy.
    *
    * `cache` (default true) pins the annotated banding for the
    * multiple reads below, released by the harness-wide clearCache
    * contract (see Dedup.jaccardPairs). Long-lived callers that invoke
    * this per micro-batch (DedupStreams) pass false — an accumulating
    * per-trigger cache entry would pin storage memory for the life of
    * the stream — and rely on caching `banded` themselves plus
    * ReuseExchange folding the repeated window scans within the one
    * consuming action.
    */
  private[graft] def cappedBucketPairs(
      banded: DataFrame, cap: Int, logOverflow: Boolean = true,
      dedup: Boolean = true, cache: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bkey"))
    // cached: the small-bucket self-join reads this twice and the
    // overflow branch + its logging statistic once more. Cache-release
    // contract: see Dedup.jaccardPairs.
    val annotated = banded
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__rep", min(col("doc_id")).over(w))
    val ann = if (cache) annotated.cache() else annotated
    val overflow = ann.filter(col("__cnt") > cap)
    if (logOverflow) {
      val overflowBuckets = overflow.select(col("band"), col("bkey")).distinct().count()
      if (overflowBuckets > 0)
        log.warn(s"capped $overflowBuckets hot LSH bucket(s) exceeding $cap docs: " +
          "emitting representative-star pairs instead of all-pairs for those buckets")
    }
    val small = ann.filter(col("__cnt") <= cap)
    val a = small.select(col("band"), col("bkey"), col("doc_id").as("da"))
    val b = small.select(col("band"), col("bkey"), col("doc_id").as("db"))
    val smallPairs = a.join(b, Seq("band", "bkey"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
    val starPairs = overflow.filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("da"), col("doc_id").as("db"))
    val union = smallPairs.union(starPairs)
    // dedup=false skips the cross-band distinct — a full shuffle of the
    // candidate set — for consumers that dedup after a cheap per-row
    // refine instead (see Dedup.jaccardForPairs pairsDistinct=false)
    if (dedup) union.distinct() else union
  }

  /** Universal-hash permutation parameters, fixed seeds => deterministic. */
  private def perms(numPerms: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Seq.fill(numPerms)((1 + rng.nextInt(Int.MaxValue - 1).toLong, rng.nextInt(Int.MaxValue).toLong))
  }

  /** Flattened (a0,b0,a1,b1,...) permutation params for the Aggregator. */
  private[operators] def permParams(numPerms: Int): Array[Long] =
    perms(numPerms).flatMap { case (a, b) => Seq(a, b) }.toArray

  /** (doc_id, sig: array<bigint>) — one row per doc, via the fused
    * MinHashAggregator (A8). `shingles` is (doc_id, s) as produced by
    * Dedup.charShingles. One shuffle, partial-agg on the map side.
    */
  def signatures(shingles: DataFrame, numPerms: Int = 128): DataFrame = {
    val h = pmod(xxhash64(col("s")), lit(Prime)) // base hash into [0, p)
    val mh = udaf(new MinHashAggregator(numPerms))
    shingles
      .select(col("doc_id"), h.as("h"))
      .groupBy(col("doc_id"))
      .agg(mh(col("h")).as("sig"))
  }

  /** The permutation loop: folds one base shingle hash `h` (in [0, Prime))
    * into the running signature `buf` — component i keeps the minimum of
    * (h·a_i + b_i) mod Prime over `ab` = [[permParams]]. The one loop
    * both MinHashAggregator.reduce and [[collectWithSignatures]] run.
    */
  private[operators] def permuteMin(buf: Array[Long], h: Long, ab: Array[Long]): Unit = {
    val numPerms = ab.length / 2
    var i = 0
    while (i < numPerms) {
      val v = (h * ab(2 * i) + ab(2 * i + 1)) % Prime
      if (v < buf(i)) buf(i) = v
      i += 1
    }
  }

  /** Element-wise min of two signatures, into `a` (the aggregator's
    * merge). */
  private[operators] def mergeMin(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) {
      if (b(i) < a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  /** Every row of a driver-bounded frame with its MinHash signature:
    * `rows(i)` is a copy of the i-th row in `df`'s schema, `ids(i)` its
    * id cast to long (null for a null id), and `sigs` maps each id to
    * the signature of its rows, repeated ids merged by element-wise min.
    */
  private[graft] final case class CollectedRows(
      rows: Array[InternalRow], ids: Array[java.lang.Long], sigs: Map[Long, Array[Long]])

  /** A driver-bounded frame's rows and signatures in ONE narrow job:
    * each row is copied and its signature computed where the row sits
    * (no exchange, no cache, no two-stage aggregation plan), and the
    * driver merges an id that several rows carry by element-wise min.
    * The signatures are bit-identical to `signatures(Dedup.charShingles(
    * df, idCol, textCol, n), numPerms)`: the same length filter and
    * lower() (projected by Spark, so their semantics are Spark's), the
    * same CharShingles windows, seed-42 XXH64 taken pmod Prime, and
    * [[permuteMin]]. A row without a shingle comes back without a
    * signature, as it gets no shingle row there.
    *
    * The job is a [[DriverKernel.collect]] described `description`,
    * bounded by the copied rows' bytes and [[DriverKernel.MaxRows]] rows;
    * past either it returns None. For micro-batch inputs, where the
    * aggregation's exchange and planning are the whole cost; distributed
    * inputs stay on [[signatures]].
    */
  private[graft] def collectWithSignatures(
      df: DataFrame, idCol: String, textCol: String, description: String,
      numPerms: Int = 128, n: Int = 3): Option[CollectedRows] = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}
    import org.apache.spark.sql.graft.CharShingles
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    import org.apache.spark.unsafe.Platform
    df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case t => throw new IllegalArgumentException(
        s"collectWithSignatures: $idCol must be an integral id column, got $t")
    }
    val ab = permParams(numPerms)
    val width = df.schema.length
    DriverKernel.collect(
      df.select(struct(col("*")), col(idCol).cast(LongType),
          when(length(col(textCol)) >= n, lower(col(textCol))))
        .queryExecution.toRdd,
      description) { r =>
      // a projection's output is an UnsafeRow, so is its nested struct
      val row = r.getStruct(0, width).asInstanceOf[UnsafeRow].copy()
      val id: java.lang.Long = if (r.isNullAt(1)) null else r.getLong(1)
      var sig: Array[Long] = null
      if (!r.isNullAt(2)) {
        val text = r.getUTF8String(2).getBytes
        CharShingles.foreachShingle(text, n) { (start, end) =>
          if (sig == null) sig = Array.fill(numPerms)(Long.MaxValue)
          val h = XXH64.hashUnsafeBytes(
            text, Platform.BYTE_ARRAY_OFFSET + start, end - start, HashSeed)
          permuteMin(sig, java.lang.Math.floorMod(h, Prime), ab)
        }
        require(sig == null || id != null, s"collectWithSignatures: null $idCol")
      }
      (row, id, sig)
    }(_._1.getSizeInBytes.toLong).map { kept =>
      val merged = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
      kept.foreach { case (_, id, sig) =>
        if (sig != null) merged.get(id) match {
          case Some(acc) => mergeMin(acc, sig)
          case None => merged.put(id, sig)
        }
      }
      CollectedRows(kept.map(_._1: InternalRow), kept.map(_._2), merged.toMap)
    }.toOption
  }

  /** Seed of Spark's xxhash64(), which [[signatures]] and [[bandKeys]]
    * evaluate. */
  private val HashSeed = 42L

  /** Every band's key of one signature, band b at index b — bit-identical
    * to the `bkey` [[bandKeys]] derives: xxhash64(b, slice) hashes the
    * int band with the seed, then folds each long of the slice in as the
    * next seed.
    */
  private[graft] def bandKeysOf(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    requireBandsFit(sig.length, bands, rowsPerBand)
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, HashSeed)
      var k = b * rowsPerBand
      while (k < (b + 1) * rowsPerBand) { h = XXH64.hashLong(sig(k), h); k += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Distinct candidate pairs (da < db) from banded signatures, hot
    * buckets capped at `bucketCap` (see [[cappedBucketPairs]], including
    * the eager-statistic note on `logOverflow`).
    */
  def candidatePairs(
      signatures: DataFrame, bands: Int = 32, rowsPerBand: Int = 4,
      bucketCap: Int = DefaultBucketCap, logOverflow: Boolean = true): DataFrame =
    bandedPairs(signatures, bands, rowsPerBand, bucketCap, logOverflow, dedup = true)

  /** As [[candidatePairs]] but WITHOUT the final distinct — one pair row
    * per matching (band, bucket), duplicates included. The refine dedups
    * after thresholding, which is cheaper than shuffling the full
    * candidate multiset when the per-pair refine is a broadcast-kernel
    * popcount.
    */
  private[operators] def candidatePairsRaw(
      signatures: DataFrame, bands: Int = 32, rowsPerBand: Int = 4,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    bandedPairs(signatures, bands, rowsPerBand, bucketCap, logOverflow = true, dedup = false)

  /** Guard for every (numPerms, bands, rowsPerBand) entry point: an
    * over-long banding slices past the signature — the trailing bands
    * hash empty slices, EVERY document collides in them, and candidate
    * generation silently degenerates to per-band all-pairs.
    */
  private[graft] def requireBandsFit(numPerms: Int, bands: Int, rowsPerBand: Int): Unit =
    require(bands * rowsPerBand <= numPerms,
      s"bands ($bands) x rowsPerBand ($rowsPerBand) exceeds the $numPerms-perm signature")

  /** Adds (band, bkey) rows to a signature frame — one row per band,
    * all other columns carried through. THE band-key definition: every
    * consumer (batch candidate generation, the streaming index join)
    * derives keys through here or through [[bandKeysOf]], its per-row
    * form, which MinHashKernelSpec pins to it.
    */
  private[graft] def bandKeys(
      signatures: DataFrame, bands: Int = 32, rowsPerBand: Int = 4): DataFrame =
    signatures.select(
      col("*"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")

  private def bandedPairs(
      signatures: DataFrame, bands: Int, rowsPerBand: Int,
      bucketCap: Int, logOverflow: Boolean, dedup: Boolean): DataFrame = {
    val banded = bandKeys(signatures, bands, rowsPerBand)
      .select(col("doc_id"), col("band"), col("bkey"))
    cappedBucketPairs(banded, bucketCap, logOverflow, dedup)
  }

  /** End-to-end near-dup pairs: LSH candidates refined by exact Jaccard.
    * Returns (da, db, jaccard) with jaccard >= threshold.
    */
  def nearDuplicatePairs(
      shingles: DataFrame,
      threshold: Double,
      numPerms: Int = 128,
      bands: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    requireBandsFit(numPerms, bands, rowsPerBand)
    // The pipeline scans the shingle set several times (signature agg, the
    // dictionary statistic, the refine join) — cache the exploded form once
    // rather than re-deriving it from the source per action.
    // Cache-release contract: see Dedup.jaccardPairs.
    val sh = shingles.cache()
    // raw (duplicated) candidates: the refine dedups AFTER thresholding,
    // trading cheap repeated popcounts for the full candidate-multiset
    // distinct shuffle
    val cand = candidatePairsRaw(signatures(sh, numPerms), bands, rowsPerBand)
    Dedup.jaccardForPairs(sh, cand, threshold, pairsDistinct = false)
  }

  /** Horizon-scoped near-dup pairs: like [[nearDuplicatePairs]], but a
    * pair only counts when the two documents' timestamps lie within
    * `horizon` of each other — the "don't compare January against a
    * three-year-old crawl" shape of rolling-corpus dedup.
    *
    * WHY a dedicated operator instead of
    * `nearDuplicatePairs(..).filter(gap <= horizon)`: the post-filter
    * spelling still pays candidate generation over the FULL corpus —
    * every LSH bucket holds every epoch that ever hashed into it, so
    * bucket sizes (and the refine's pair count) grow with corpus AGE,
    * not with the horizon. Here the band key is extended with a coarse
    * time cell of width `horizon` and each signature row is replicated
    * into its own cell and the next one, so two docs can share a
    * bucket only when their cells are equal or adjacent — and any pair
    * within `horizon` IS within one cell of each other (floor
    * monotonicity), so recall vs the post-filter spelling is
    * unchanged. Bucket population is bounded by ~2·horizon of data per
    * key regardless of how old the corpus grows, which is the whole
    * point at 100 TB. The EXACT |ta-tb| <= horizon predicate (adjacent
    * cells admit gaps up to 2·horizon) is applied AFTER the Jaccard
    * refine, on hit-scale rows: refining the few out-of-window
    * candidates costs popcounts, while attaching timestamps to the
    * candidate MULTISET costs two candidate-scale joins — and, worse,
    * the pre-refine {cand, ta, tb, |ta-tb|<=h} join tree is exactly
    * the triangle CBO join-reorder mis-planned into a corpus x corpus
    * nested loop (ta x tb on the theta edge first, measured 101 s vs
    * 18 s at the 50k-doc tier — the r10 slope ledger's "23x
    * superlinear" row). Post-refine, the join inputs are hit-scale and
    * the tree is barriered behind the refine kernel's aggregate, so
    * neither cost nor reorder can touch corpus scale.
    *
    * `ts` must be a narrow (idCol, tCol) frame, one row per document —
    * fingerprint-scale, joined once onto the signature frame (not the
    * shingle explosion). Returns (da, db, jaccard, t_gap) with
    * jaccard >= threshold and t_gap <= horizon.
    */
  def temporalNearDuplicatePairs(
      shingles: DataFrame,
      ts: DataFrame,
      horizon: Long,
      threshold: Double,
      idCol: String = "doc_id",
      tCol: String = "t",
      numPerms: Int = 128,
      bands: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    requireBandsFit(numPerms, bands, rowsPerBand)
    require(horizon > 0, s"horizon must be positive, got $horizon")
    // Cache-release contract: see Dedup.jaccardPairs.
    val sh = shingles.cache()
    val tsn = ts.select(col(idCol).as("doc_id"), col(tCol).cast("long").as("__t"))
    // floor division (not Spark's truncate-toward-zero `/` on longs) so
    // negative timestamps cell correctly; |t| < 2^52 keeps the double
    // path exact
    val cell = floor(col("__t").cast("double") / horizon.toDouble).cast("long")
    val banded = bandKeys(signatures(sh, numPerms).join(tsn, "doc_id"),
        bands, rowsPerBand)
      .withColumn("__cell", explode(array(cell, cell + lit(1L))))
      .select(col("doc_id"), col("band"),
        // fold the cell into the bucket key: the hot-bucket cap then
        // bounds per-(band, key, cell) work, exactly the bound that
        // holds at scale
        xxhash64(col("bkey"), col("__cell")).as("bkey"))
    // dedup=false: same-cell pairs meet in BOTH replicated cells (and
    // possibly several bands); the refine dedups after thresholding,
    // same trade as nearDuplicatePairs
    val cand = cappedBucketPairs(banded, DefaultBucketCap, logOverflow = true,
      dedup = false)
    val ta = tsn.select(col("doc_id").as("da"), col("__t").as("__ta"))
    val tb = tsn.select(col("doc_id").as("db"), col("__t").as("__tb"))
    // refine FIRST; the horizon predicate rides the hit-scale timestamp
    // attach below (see scaladoc: the pre-refine spelling was both a
    // candidate-scale double join and a CBO reorder hazard)
    Dedup.jaccardForPairs(sh, cand, threshold, pairsDistinct = false)
      .join(ta, "da").join(tb, "db")
      .withColumn("t_gap", abs(col("__ta") - col("__tb")))
      .filter(col("t_gap") <= horizon)
      .drop("__ta", "__tb")
  }
}
