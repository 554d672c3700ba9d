package graft.streaming

import graft.operators.{Dedup, DriverKernel, InMemoryMembershipStore, MembershipStore, MinHashLSH, SignatureIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Online near-duplicate filtering over a document stream — the shape a
  * 100 TB training-data pipeline actually runs: new data is deduped
  * against an INDEX of everything already retained, never by
  * re-scanning the historical corpus. Per micro-batch:
  *
  *  1. MinHash signatures for the batch docs — the batch operators'
  *     shingles, hashes and permutation loop (MinHashLSH), computed per
  *     row in one narrow job under the driver cap and by the fused
  *     aggregator above it;
  *  2. banded candidate probe of batch band keys against the persisted
  *     MEMBERSHIP index (already banded and bucket-capped at write
  *     time — see the index layout below) plus the in-batch capped
  *     bucket pairs, both derived through MinHashLSH.bandKeys so the
  *     banding can never drift from the batch operators;
  *  3. similarity estimated from stored 1-byte minhash components
  *     alone — b-bit minwise hashing (Li & König, CACM 2011): the
  *     fraction of agreeing 8-bit components estimates
  *     J + (1-J)/256, so the drop test compares against the
  *     collision-corrected threshold t + (1-t)/256. The index stores
  *     128 bytes per doc, never the original text or shingles, and is
  *     8x smaller than full 64-bit signatures;
  *  4. greedy resolution in doc_id order over ONLY the docs involved in
  *     a candidate pair or index hit (metadata-scale: they are the
  *     near-dups themselves, not the corpus); everything else is
  *     retained by one filter against the small dropped set.
  *
  * A batch small enough for the driver (the operators' one driver
  * budget, [[DriverKernel.BudgetBytes]], by its plan's size estimate and
  * by its actual row bytes, at most [[DriverKernel.MaxRows]] rows) runs
  * the pairwise steps (2–4) as a DRIVER-RESIDENT KERNEL over its
  * collected rows, banded keys and b-bit signatures — metadata-scale
  * state, the broadcast-parameters idiom: within-batch pair generation,
  * similarity estimates, greedy resolution and bucket admission run in
  * plain Scala, which cuts ~8 batch-scale shuffle stages (and their
  * fixed latency) out of every trigger. Its index probe is a set of point lookups in an
  * [[InMemoryMembershipStore]], the write-through view of the index
  * (see [[ingest]]), so a steady-state trigger costs ONE Spark job, a
  * shuffle-free pass that brings every batch row to the driver with
  * its signature. The driver writes the survivors and both index
  * components itself with Spark's parquet writer — not a dozen
  * batch-scale shuffle stages — and then puts the admissions into the
  * store. Any other batch runs the identical semantics distributed
  * (spec-asserted equivalent), probing the live index components with
  * a broadcast join; the store seeds that trigger's components at the
  * next kernel trigger.
  *
  * == Incremental index layout ==
  *
  * {{{
  * indexDir/members/{compacted=<M> | run=<R> | batch=<id>}/   (band, bkey, doc_id)
  * indexDir/sigs/   {compacted=<M> | run=<R> | batch=<id>}/   (doc_id, sig8)
  * }}}
  *
  * The membership table is banded AND capped when written: under the
  * monotone-id contract the read-side "cap lowest-id docs per bucket"
  * truncation is identical to write-side admission ("a doc enters a
  * bucket only while it has fewer than cap members"), which makes
  * bucket membership append-only-until-full — so per-trigger work is
  * O(batch + hits): band keys are computed for the BATCH only, the
  * bucket-cap needs no window over the index (occupancy of exactly the
  * buckets the batch touches falls out of the probe join itself), and
  * the only shuffles are batch-sized aggregations. The layout
  * (bucket-keyed membership + doc-keyed signatures, both append-only)
  * is a key-value schema: the kernel probes it through the in-memory
  * store, and on a cluster deployment the same two tables would sit
  * behind an external key-value/state-store interface.
  *
  * Every `compactEvery` batches the `batch=<id>` partition dirs fold —
  * two-level and size-tiered (see [[SignatureIndex.compact]]): normally
  * a MINOR fold into a `run=<R>` dir (O(folded batches)), a MAJOR fold
  * into a new `compacted=<M>` epoch only when the runs reach 1/4 of the
  * epoch's bytes. Per-trigger listing stays O(compactEvery + MaxRuns)
  * dirs and amortized fold work stays O(batch), with each row
  * epoch-rewritten O(log) times over the stream's life. Which of the two
  * a fold is does not pick its path; its bytes do: a fold whose
  * components fit [[DriverKernel.BudgetBytes]] (every fold of a
  * refresh-scale index, minor or major) is read, sorted and rewritten on
  * the driver with no Spark job, and a larger one rewrites through Spark.
  * Folds are pure concatenation — the cap was enforced at write time —
  * and crash-safe: each fold's sigs dir is written before its members
  * dir, readers require `_SUCCESS` on folded dirs and ignore batch dirs
  * a fold covers, and covered dirs are only deleted after both writes
  * land; a replayed trigger re-runs the same deterministic fold.
  *
  * PRECONDITION for cross-run agreement: doc ids must arrive
  * monotonically non-decreasing across batches (ingest-time-assigned
  * ids, file order, etc.). Under that contract, replaying the same
  * corpus in one batch or many yields identical survivors (asserted in
  * spec). With out-of-order ids the stream still dedups correctly
  * against what it has RETAINED so far, but a later full-corpus batch
  * replay may keep a different (lower-id) member of each dup group.
  *
  * Estimator note: with 128 one-byte components the corrected
  * estimator's std-dev is ~0.04 at J=0.7 (byte collisions add variance
  * comparable to the full-width estimator's), so this trades exactness
  * at the threshold boundary for an index ~8000x smaller than the
  * corpus — the standard online dedup contract. The batch operators
  * (Dedup.jaccardPairs) remain the exact forms.
  */
object DedupStreams {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The index's derivation params: the library-wide banding, persisted
    * beside the index by the first trigger. */
  private val Cfg = SignatureIndex.Config()

  /** Open-addressing set of positive longs (0 = empty slot sentinel;
    * callers must never add 0). The within-batch pair loop inserts the
    * per-band duplicated pair multiset — millions of adds per trigger —
    * where a boxed HashSet[(Long, Long)] was the measured hot spot.
    */
  private[streaming] final class PosLongSet(initCapPow2: Int) {
    private var keys = new Array[Long](initCapPow2)
    private var n = 0
    /** true iff k was absent (and is now present). */
    def add(k: Long): Boolean = {
      if ((n + 1) * 2 > keys.length) grow()
      var i = (java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L)) & (keys.length - 1)
      while (true) {
        val cur = keys(i)
        if (cur == 0L) { keys(i) = k; n += 1; return true }
        if (cur == k) return false
        i = (i + 1) & (keys.length - 1)
      }
      false
    }
    private def grow(): Unit = {
      val old = keys
      keys = new Array[Long](old.length * 2)
      n = 0
      old.foreach(k => if (k != 0L) add(k))
    }
  }

  /** Micro-batches between index compactions (fold `batch=*` dirs into
    * one `compacted=<M>` dir). Bounds the per-trigger listing at
    * O(compactEvery) dirs; <= 0 disables compaction.
    */
  val DefaultCompactEvery = 16

  /** Bound on the refined near-dup pair set [[resolveDropped]]
    * materializes on the driver per trigger. Normal batches sit orders
    * of magnitude below it (pairs come from capped buckets), but a
    * pathological batch — e.g. one that is entirely duplicates of a few
    * hot buckets — could otherwise balloon driver memory. Past the cap
    * the trigger degrades to the conservative distributed resolution
    * (drop every later endpoint of a refined pair): it never collects
    * the pair set, still drops only genuine near-dups, and over-drops
    * only chain tails (a<b<c with pairs (a,b),(b,c): exact greedy
    * retains c, the conservative rule drops it) — the safe direction
    * for a dedup filter under a degenerate batch. 4M pairs ~ 64 MB.
    */
  val MaxDriverPairs: Long = 4L * 1024 * 1024

  /** Start the checkpointed streaming ingest: retained docs land in
    * `outDir` (parquet), their signature index under `indexDir`.
    *
    * `store`: the point-lookup view of the index every trigger probes
    * ([[InMemoryMembershipStore]]). The parquet layout is still written
    * (it stays the durable source of truth and the analytical copy);
    * the store is the write-through view probes read, so a probe costs
    * O(batch keys), independent of index size. `None` means one fresh
    * store for this stream, seeded from the index at its first trigger.
    */
  def ingest(
      docs: DataFrame,
      outDir: String,
      indexDir: String,
      checkpointDir: String,
      threshold: Double = 0.7,
      availableNow: Boolean = true,
      store: Option[InMemoryMembershipStore] = None): StreamingQuery = {
    val st = Some(store.getOrElse(new InMemoryMembershipStore))
    val writer = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        dedupBatch(batch.toDF(), outDir, indexDir, threshold, id, store = st)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Single-batch reference form: the whole frame deduped as ONE batch.
    * Under the monotone-id contract this is the expected survivor set of
    * any chunked stream drain over the same corpus — the batching-
    * invariance oracle the q111 gate compares the real streamed run
    * against.
    */
  def dedupOnce(
      docs: DataFrame, outDir: String, indexDir: String,
      threshold: Double = 0.7): Unit =
    dedupBatch(docs, outDir, indexDir, threshold, 0L)

  /** b-bit agreement estimate: fraction of agreeing 8-bit components.
    * E[est8] = J + (1-J)/256 (Li & König), hence the corrected
    * threshold in [[dedupBatch]].
    */
  private def est8(sa: Column, sb: Column): Column =
    aggregate(
      zip_with(sa, sb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / lit(Cfg.numPerms)

  /** Rows whose `doc_id` is not in `dropped` — the anti-join against
    * the dropped set as one filter, null ids kept as the anti-join keeps
    * them. `InSet` holds the set as a reference object outside the
    * generated code, so every trigger reuses one compiled filter; an
    * `isin` of literals would inline the ids below the OptimizeIn
    * threshold and recompile per trigger.
    */
  private[streaming] def notDropped(dropped: Set[Long]): Column = {
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.graft.ColumnBridge
    val id = col("doc_id").cast("long")
    id.isNull || !ColumnBridge.toColumn(
      InSet(ColumnBridge.toExpression(id), dropped.map(d => d: Any)))
  }

  /** One micro-batch of the online dedup; package-private so the
    * batching-invariance, replay-idempotence, admission-cap and
    * O(batch)-work properties are testable directly.
    *
    * Exactly-once: survivors and index rows land in per-batch partition
    * directories (`batch=<id>`) written with overwrite — foreachBatch
    * replays a failed batch with the SAME id, so a crash between writes
    * (or mid-write) is healed by the rerun overwriting its own
    * partitions instead of appending duplicates. The CURRENT batch id is
    * excluded from the index read: an interrupted write of this id is
    * about to be overwritten and must not feed its own dedup pass.
    *
    * `store`: the probe's point-lookup view of the index (see
    * [[ingest]]); `None` means a fresh store for this call, seeded from
    * the index.
    */
  private[graft] def dedupBatch(
      batch: DataFrame, outDir: String, indexDir: String, threshold: Double,
      batchId: Long = 0L,
      bucketCap: Int = MinHashLSH.DefaultBucketCap,
      compactEvery: Int = DefaultCompactEvery,
      store: Option[InMemoryMembershipStore] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val st = store.getOrElse(new InMemoryMembershipStore)
    // per-phase wall timing, printed once per trigger when
    // SPARK_GRAFT_DRAIN_TIMING=1 — the knob that found the fixed
    // per-trigger cost breakdown (see PLANS.md drain notes)
    val timing = sys.env.get("SPARK_GRAFT_DRAIN_TIMING").contains("1")
    // whole-JVM GC time across the trigger: in local mode executor tasks
    // and the driver kernel share one heap, so a stop-the-world pause
    // inflates every phase proportionally — the gc= column is what
    // separates "per-trigger work grew" from "the collector ran"
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcT0 = if (timing) gcMs() else 0L
    val bodyT0 = System.nanoTime()
    val phases = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    val sizes = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      phases += name -> ((System.nanoTime() - t0) / 1000000)
      r
    }
    // the kernel's input: every batch row with its signature, from the
    // trigger's one job — run only when the plan's size estimate fits
    // the driver budget (a plan without one reports
    // spark.sql.defaultSizeInBytes, Long.MaxValue unless a session
    // lowers it), and None past the budget or DriverKernel.MaxRows rows
    val collected: Option[MinHashLSH.CollectedRows] =
      if (batch.queryExecution.optimizedPlan.stats.sizeInBytes > DriverKernel.BudgetBytes) None
      else phase("collect")(MinHashLSH.collectWithSignatures(
        batch, "doc_id", "text", s"dedup.collect batch=$batchId", Cfg.numPerms))
    // the distributed spelling reads its batch several times: cached for
    // the trigger, and counted for the emptiness guard the collected
    // rows give the kernel
    val cachedBatch = if (collected.isDefined) None else Some(batch.cache())
    if (collected.fold(cachedBatch.get.count() == 0L)(_.rows.isEmpty)) {
      cachedBatch.foreach(_.unpersist()); return
    }
    // compact FIRST (before this trigger's index read) so the listing
    // this very batch performs is already bounded. batchId is a pure
    // function of the trigger, so a replayed batch re-runs the same
    // compaction — which is then a no-op.
    val didCompact = compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0
    if (didCompact) {
      // pre-compact novelty check: an out-of-band component about to be
      // folded under our names must not survive the fold as a silently
      // missing coverage gap of the store
      val preNames = graft.operators.SignatureIndex
        .componentNames(spark, indexDir, "members", excludeBatch = Some(batchId)).toSet
      if ((preNames -- st.knownPaths).nonEmpty) st.clear()
      try phase("compact")(SignatureIndex.compact(spark, indexDir, upTo = batchId - 1))
      catch { case e: Throwable => cachedBatch.foreach(_.unpersist()); throw e }
    }

    // batch signatures: full 64-bit components feed the band keys (full
    // key entropy — 8-bit banding would birthday-collide unrelated docs
    // at billion-doc scale), the 1-byte fold feeds every similarity
    // estimate and the persisted index. Each branch below derives them
    // its own way: the driver kernel per row in the collect job above,
    // the distributed spelling as cached frames.
    // collision-corrected b-bit drop threshold (see scaladoc)
    val tCorr = threshold + (1 - threshold) / 256.0

    val hPath = new org.apache.hadoop.fs.Path(s"$indexDir/members")
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // derivation params land beside the index once (first writer wins):
    // a later batch-probe with different banding fails loudly instead of
    // silently finding zero collisions (SignatureIndex.validateParams)
    val listing = phase("list") {
      SignatureIndex.writeParams(fs, indexDir, Cfg)
      SignatureIndex.listTable(fs, hPath)
    }
    val live = listing.copy(batches = listing.batches.filter(_ != batchId))
    def tablePaths(table: String): Seq[String] =
      live.dirNames.map(n => s"$indexDir/$table/$n")
    // our fold renamed covered components without changing content —
    // adopt the names (a cleared store ignores this and re-seeds)
    if (didCompact) st.resyncAfterFold(live.dirNames.toSet)
    try {
      // greedy resolution in id order over only the pair-involved ids —
      // a doc in no pair and no index hit is retained unconditionally,
      // and every potential dropper of a pair endpoint is itself a pair
      // endpoint, so resolving the candidate set alone is complete
      def resolveDropped(
          indexHits: Set[Long], withinPairs: Array[(Long, Long)]): Set[Long] = {
        val nearOf = withinPairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).toSet }
        val contested = (indexHits ++ withinPairs.flatMap(p => Seq(p._1, p._2))).toSeq.sorted
        val dropped = scala.collection.mutable.HashSet.empty[Long]
        contested.foreach { id =>
          val dupOfRetained = indexHits.contains(id) ||
            nearOf.getOrElse(id, Set.empty).exists(a => !dropped.contains(a))
          if (dupOfRetained) dropped += id
        }
        if (dropped.nonEmpty)
          log.info(s"dedupBatch($batchId): dropped ${dropped.size} near-duplicate doc(s)")
        dropped.toSet
      }
      collected match {
      case Some(kernel) =>
        // ---------------- driver-resident batch kernel ----------------
        // (see DriverKernel) — the batch's rows and signatures
        // came to the driver from the collect job (per-row MinHash where
        // the rows sit, duplicate ids min-merged on the driver: no
        // shuffle, no cached frames), band keys are folded locally, and
        // everything pairwise happens in plain Scala with the EXACT
        // arithmetic of the distributed spelling below (spec-asserted
        // equivalent across the cap; MinHashKernelSpec pins the
        // signatures and keys to MinHashLSH.signatures/bandKeys).
        val sigLocal: Map[Long, Array[Long]] = kernel.sigs
        val sig8Local: Map[Long, Array[Long]] =
          sigLocal.map { case (id, s) => id -> s.map(_ & 255L) }
        val sigPk: Map[Long, Array[Long]] =
          sig8Local.map { case (id, s) => id -> MembershipStore.packSig8(s) }
        val bandedLocal: Array[(Int, Long, Long)] = phase("band_keys")(
          sigLocal.toArray.flatMap { case (id, s) =>
            MinHashLSH.bandKeysOf(s, Cfg.bands, Cfg.rowsPerBand).zipWithIndex
              .map { case (bkey, band) => (band, bkey, id) }
          })
        // batch vs index through the store's point lookups — O(batch
        // keys) per trigger, independent of index size. The store first
        // seeds whatever live component it does not cover yet (first
        // attach, an out-of-band append, an over-cap trigger's write).
        phase("store_sync")(st.ensureCovers(spark, indexDir, live.dirNames.toSet))
        val keys = phase("probe_prep")(bandedLocal.map(t => (t._1, t._2)).distinct)
        val bm = phase("probe_collect")(st.bucketMembers(keys))
        val occLocal: Map[(Int, Long), Long] =
          bm.map { case (k, ms) => k -> ms.length.toLong }
        val mids = bm.valuesIterator.flatten.toArray.distinct
        val msig = phase("msig_collect")(st.memberSigs(mids))
        // driver refine loop: per-bucket member lists are bounded by the
        // write-side cap, so this sweep is hit-bounded
        val indexHits: Set[Long] = phase("refine_dist") {
          val out = scala.collection.mutable.HashSet.empty[Long]
          bandedLocal.foreach { case (band, bkey, nid) =>
            if (!out.contains(nid)) bm.get((band, bkey)).foreach { ms =>
              val nsig = sigPk(nid)
              var i = 0
              while (i < ms.length && !out.contains(nid)) {
                msig.get(ms(i)).foreach { m =>
                  if (MembershipStore.agreeCount(nsig, m).toDouble / Cfg.numPerms >= tCorr)
                    out += nid
                }
                i += 1
              }
            }
          }
          out.toSet
        }
        if (timing) sizes += ("idxhits" -> indexHits.size.toLong)

        // batch vs earlier batch docs (da < db): per-bucket all-pairs
        // under the cap, representative-star above it — the semantics of
        // MinHashLSH.cappedBucketPairs — then the agreement refine on the
        // deduped pair set
        val withinPairs = phase("pairs_local") {
          // dense local indices in doc_id order (i < j ⟺ id_i < id_j),
          // so a pair packs into one positive long — (i << 20) | j, with
          // j ≥ 1 guaranteeing nonzero — and the per-band duplicated
          // pair multiset dedups through the primitive PosLongSet
          // instead of millions of boxed tuple inserts. The agreement
          // refine runs on first sight of each pair over an
          // index-addressed packed-signature array. Semantics identical
          // to the bucket-sorted all-pairs + HashSet spelling.
          val ids: Array[Long] = sig8Local.keysIterator.toArray.sorted
          require(ids.length < (1 << 20),
            s"driver kernel batch of ${ids.length} docs overflows pair packing")
          val idxOf = new java.util.HashMap[Long, Integer](ids.length * 2)
          var ii = 0
          while (ii < ids.length) { idxOf.put(ids(ii), ii); ii += 1 }
          val pk: Array[Array[Long]] = ids.map(sigPk)
          val buckets = scala.collection.mutable.HashMap
            .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
          bandedLocal.foreach(t => buckets.getOrElseUpdate((t._1, t._2),
            scala.collection.mutable.ArrayBuffer.empty) += idxOf.get(t._3).intValue())
          val seen = new PosLongSet(1 << 16)
          var nPairs = 0L
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          def visit(a: Int, b: Int): Unit =
            if (seen.add((a.toLong << 20) | b.toLong)) {
              nPairs += 1
              if (MembershipStore.agreeCount(pk(a), pk(b)).toDouble / Cfg.numPerms >= tCorr)
                out += ((ids(a), ids(b)))
            }
          buckets.valuesIterator.foreach { rows =>
            val ds = rows.toArray.sorted
            if (ds.length <= bucketCap) {
              var i = 0
              while (i < ds.length) {
                var j = i + 1
                while (j < ds.length) { visit(ds(i), ds(j)); j += 1 }
                i += 1
              }
            } else {
              var j = 1
              while (j < ds.length) { visit(ds(0), ds(j)); j += 1 }
            }
          }
          if (timing) sizes += ("pairset" -> nPairs)
          out.toArray
        }

        val dropped = phase("resolve")(resolveDropped(indexHits, withinPairs))

        // admission: a surviving doc enters each of its buckets only
        // while the bucket is below cap — existing occupancy (from the
        // probe hits, counted distinct per bucket above) + arrival rank
        // among this batch's surviving entrants. Under monotone ids this
        // equals the read-side "cap lowest-id members" truncation
        // exactly. Single-file local writes: one file per batch per
        // table, not shuffle-partition many — the per-trigger probe scan
        // is file-count-bound at this scale, not byte-bound.
        val admitted: Seq[(Int, Long, Long)] = phase("admit_prep") {
          bandedLocal.iterator
            .filter(t => !dropped.contains(t._3)).toSeq
            .groupBy(t => (t._1, t._2)).iterator.flatMap { case ((band, bkey), rows) =>
              val room = bucketCap - occLocal.getOrElse((band, bkey), 0L)
              rows.map(_._3).sorted.take(math.max(0L, room).toInt)
                .map(d => (band, bkey, d))
            }.toSeq
        }
        // every row is on the driver, so the driver writes all three
        // components with Spark's parquet writer and no job: the
        // survivors (the rows notDropped keeps: a null id, or a long id
        // not dropped), then sigs before members, the fold and append
        // order. Each write is individually idempotent (overwrite of its
        // own batch=<id> dir), so a failure in any of them fails the
        // trigger and the replay heals all three.
        phase("write_survivors")(SignatureIndex.writeComponent(
          spark, s"$outDir/batch=$batchId", batch.schema,
          kernel.rows.indices.iterator
            .filter(i => kernel.ids(i) == null || !dropped.contains(kernel.ids(i)))
            .map(i => kernel.rows(i))))
        // signatures only for docs reachable from the membership (a doc
        // admitted to zero buckets can never be probed)
        phase("write_sigs")(SignatureIndex.writeComponent(
          spark, s"$indexDir/sigs/batch=$batchId",
          SignatureIndex.SigsSchema,
          admitted.iterator.map(_._3).distinct.map(d => InternalRow(
            d, UnsafeArrayData.fromPrimitiveArray(sig8Local(d))))))
        phase("write_members")(SignatureIndex.writeComponent(
          spark, s"$indexDir/members/batch=$batchId",
          SignatureIndex.MembersSchema,
          admitted.iterator.map(t => InternalRow(t._1, t._2, t._3))))
        // store update strictly AFTER the members write lands (a crash
        // before this point leaves a component the next ensureCovers
        // seeds; a replay's re-put is healed the same way)
        phase("store_put")(st.put(
          batchId, admitted,
          admitted.map(_._3).distinct.map(d => d -> sigPk(d)).toMap))
      case None =>
        // ---------------- distributed spelling (over-cap) ----------------
        // signatures as cached frames, built only on this path (each is
        // read several times below); a batch this large can still arrive
        // as one file-source partition, so the aggregation is spread
        // 8 ways
        val input = cachedBatch.get
        val sigSrc =
          if (input.rdd.getNumPartitions < 8) input.repartition(8) else input
        // ids as long, the type the driver kernel writes and the store
        // reads (SignatureIndex.MembersSchema/SigsSchema), whatever
        // integral type the batch carries
        val sigs = MinHashLSH
          .signatures(Dedup.charShingles(sigSrc, "doc_id", "text"), Cfg.numPerms)
          .withColumn("doc_id", col("doc_id").cast("long"))
          .withColumn("sig8", transform(col("sig"), x => x.bitwiseAND(lit(255L))))
          .cache()
        val banded = MinHashLSH.bandKeys(sigs, Cfg.bands, Cfg.rowsPerBand)
          .select(col("doc_id"), col("band"), col("bkey"))
          .cache()
        // the index side: the live components, read directly (the store
        // seeds this trigger's write at the next driver-kernel trigger)
        val members =
          if (live.isEmpty) Seq.empty[(Int, Long, Long)].toDF("band", "bkey", "mid")
          else spark.read.parquet(tablePaths("members"): _*)
            .select(col("band"), col("bkey"), col("doc_id").as("mid"))
        val idxSigs =
          if (live.isEmpty) Seq.empty[(Long, Array[Long])].toDF("doc_id", "sig8")
          else spark.read.parquet(tablePaths("sigs"): _*)
        // probe the (write-time-capped) membership with the batch's band
        // keys: broadcast the batch side, so the index side is a pruned
        // columnar scan with NO shuffle, NO re-banding, NO window; bucket
        // occupancy for admission falls out of the same join, counted
        // over exactly the buckets this batch touches
        val memberHits = members
          .join(broadcast(banded.withColumnRenamed("doc_id", "nid")), Seq("band", "bkey"))
          .cache()
        try {
          val occupancy = memberHits.groupBy(col("band"), col("bkey"))
            .agg(countDistinct(col("mid")).as("occ"))
          // batch vs index: signatures are fetched for the candidate
          // members only — the hits, not the index
          val candIdx = memberHits.select(col("nid"), col("mid")).distinct()
          val memberSigs = idxSigs.join(
            broadcast(candIdx.select(col("mid").as("doc_id")).distinct()), Seq("doc_id"))
          val indexHits = candIdx
            .join(broadcast(sigs.select(col("doc_id").as("nid"), col("sig8").as("nsig"))), Seq("nid"))
            .join(broadcast(memberSigs.select(col("doc_id").as("mid"), col("sig8").as("msig"))), Seq("mid"))
            .filter(est8(col("nsig"), col("msig")) >= tCorr)
            .select(col("nid")).distinct()
            .as[Long].collect().toSet

          // batch vs earlier batch docs through the SAME hot-bucket cap as
          // the batch operators. dedup=true here (unlike Dedup's batch
          // path): the refine is the interpreted est8 HOF, not a codegen'd
          // popcount kernel, so evaluating it on the per-band duplicated
          // multiset (up to `bands` copies per pair) costs far more than
          // the batch-scale distinct that removes them (measured 10x)
          val candidates = MinHashLSH.cappedBucketPairs(
            banded, bucketCap, logOverflow = false, dedup = true, cache = false)
          val sa = sigs.select(col("doc_id").as("da"), col("sig8").as("sa"))
          val sb = sigs.select(col("doc_id").as("db"), col("sig8").as("sb"))
          val refined = candidates
            .join(sa, Seq("da")).join(sb, Seq("db"))
            .filter(est8(col("sa"), col("sb")) >= tCorr)
            .select(col("da"), col("db")).distinct()
            .cache()
          val dropped = try {
            val nPairs = refined.count()
            log.info(s"dedupBatch($batchId): $nPairs refined pairs, " +
              s"${indexHits.size} index hits (driver pair cap $MaxDriverPairs)")
            if (nPairs <= MaxDriverPairs)
              resolveDropped(indexHits, refined.as[(Long, Long)].collect())
            else {
              // degenerate batch: see MaxDriverPairs — conservative
              // resolution without materializing the pair set (the later
              // endpoints alone are <= batch doc count)
              log.warn(s"dedupBatch($batchId): pair set $nPairs exceeds " +
                s"$MaxDriverPairs — using conservative distributed resolution")
              indexHits ++ refined.select(col("db")).distinct().as[Long].collect()
            }
          } finally refined.unpersist()
          input.filter(notDropped(dropped))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

          // admission via a window over BATCH rows only (same semantics as
          // the driver kernel's local form), cached: the sigs write reads
          // its ids, then the members write its rows — sigs before
          // members, the publish order of the driver kernel and the fold
          // (a reader listing between the two writes must never see
          // members whose sigs are not yet there)
          val wAdm = Window.partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))
          val admitted = banded
            .filter(notDropped(dropped))
            .join(broadcast(occupancy), Seq("band", "bkey"), "left")
            .withColumn("__r", row_number().over(wAdm))
            .filter(col("__r") + coalesce(col("occ"), lit(0)) <= lit(bucketCap))
            .select(col("band"), col("bkey"), col("doc_id"))
            .cache()
          try {
            sigs.select(col("doc_id"), col("sig8"))
              .join(broadcast(admitted.select(col("doc_id")).distinct()), Seq("doc_id"), "left_semi")
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$indexDir/sigs/batch=$batchId")
            admitted.coalesce(1)
              .write.mode("overwrite").parquet(s"$indexDir/members/batch=$batchId")
          } finally admitted.unpersist()
        } finally {
          memberHits.unpersist()
          banded.unpersist()
          sigs.unpersist()
        }
      }
    } finally {
      cachedBatch.foreach(_.unpersist())
      if (timing) System.err.println(
        s"[drain-timing] batch=$batchId " +
          phases.map { case (n, ms) => s"$n=${ms}ms" }.mkString(" ") +
          s" body=${(System.nanoTime() - bodyT0) / 1000000}ms" +
          s" gc=${gcMs() - gcT0}ms" +
          sizes.map { case (n, v) => s" $n=$v" }.mkString)
    }
    ()
  }
}
