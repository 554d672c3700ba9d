package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared pieces of the streaming trigger's point-lookup probe
  * ([[InMemoryMembershipStore]]): the packed b-bit signature layout, its
  * SWAR agreement kernel, and the store's capacity row.
  */
object MembershipStore {

  /** Capacity row for one in-memory store: membership entries,
    * signature rows, and an approximate resident-bytes figure. The
    * store seeds the full retained member set, so the footprint is
    * corpus-proportional; the drain reports it as `store_stats`.
    */
  final case class StoreStats(entries: Int, sigs: Int, approxBytes: Long)

  /** Pack a b-bit (8-bit fold) signature — `sig` holds one byte-range
    * component per long — into sig.length/8 longs, 8 components per
    * word, so agreement counting compares 8 components per XOR
    * (the SWAR kernel in [[agreeCount]]).
    */
  def packSig8(sig: Array[Long]): Array[Long] = {
    require(sig.length % 8 == 0, s"signature length ${sig.length} not a multiple of 8")
    val out = new Array[Long](sig.length / 8)
    var i = 0
    while (i < sig.length) {
      out(i >> 3) |= (sig(i) & 0xFFL) << ((i & 7) << 3)
      i += 1
    }
    out
  }

  /** Count agreeing byte components of two packed signatures. Per word:
    * disagreeing bytes of x = a^b are counted by OR-folding each byte
    * onto its own bit 0 (shift-and-mask keeps neighbors' bits out, so
    * the per-byte indicator is exact — unlike the classic borrow trick
    * whose carry cascades across a zero byte below a nonzero one). Kept
    * as plain Scala on purpose: a column-expression spelling of this
    * kernel was tried and reverted — with the probe's In literals
    * changing every trigger the generated source never hits the codegen
    * cache, costing ~10 s of janino per trigger.
    */
  def agreeCount(a: Array[Long], b: Array[Long]): Int = {
    var diff = 0; var i = 0
    while (i < a.length) {
      val x = a(i) ^ b(i)
      var y = x | ((x >>> 4) & 0x0f0f0f0f0f0f0f0fL)
      y |= (y >>> 2) & 0x0303030303030303L
      y |= (y >>> 1) & 0x0101010101010101L
      diff += java.lang.Long.bitCount(y & 0x0101010101010101L)
      i += 1
    }
    a.length * 8 - diff
  }
}

/** The signature index's point-lookup probe: bucket-keyed membership
  * `(band, bkey) -> member doc ids` and doc-keyed b-bit signatures
  * `doc_id -> packed sig8`, the index's two append-only tables
  * ([[SignatureIndex]] layout scaladoc) held as a key-value view. It is
  * the one index probe of the streaming dedup trigger
  * ([[graft.streaming.DedupStreams]]); batch admission
  * ([[SignatureIndex.probeNearDuplicateIds]]) joins the members table
  * instead.
  *
  * Data layout is primitive-array, not boxed-collection, because at
  * drain scale the membership holds ~#docs x bands entries (12.8M at
  * the 400k-doc horizon): an open-addressing hash from bkey to the head
  * of a chain over three parallel growable arrays (band, mid, next). A
  * probed key costs one hash probe plus its chain — independent of
  * index size.
  *
  * Durability: none, by design — this is the volatile write-through
  * view of the parquet index (the durable layout). Admissions are
  * [[put]] after their parquet write lands; [[ensureCovers]] is called
  * by the consumer with the CURRENT live component listing before each
  * probe. Novel components (first attach, out-of-band appends, a
  * distributed-spelling trigger's write, a write whose put a crash
  * lost) are seeded incrementally, and a fold the consumer did NOT
  * certify as its own content-preserving rename triggers a full rebuild
  * (clear + re-seed), never a silent miss. On a cluster the same
  * interface fronts a real KV store and ensureCovers becomes a no-op
  * (the store is the source of truth for probes; parquet remains the
  * analytical copy). Results never depend on the store's history: a
  * fresh store seeded from the same index answers every lookup the
  * same (MembershipStoreSpec).
  */
final class InMemoryMembershipStore {
  import org.apache.spark.sql.functions.col

  // ---- membership: open-addressing bkey -> chain head over parallel arrays
  private var tableBits = 16
  private var tableKeys = new Array[Long](1 << tableBits) // 0 = empty (bkey 0 handled via presence array)
  private var tableUsed = new Array[Boolean](1 << tableBits)
  private var tableHead = new Array[Int](1 << tableBits)
  private var nEntries = 0
  private var entryBand = new Array[Int](1 << 16)
  private var entryMid = new Array[Long](1 << 16)
  private var entryNext = new Array[Int](1 << 16) // -1 ends the chain

  // ---- signatures: doc_id -> packed sig8
  private val sigMap = new java.util.HashMap[java.lang.Long, Array[Long]]()

  /** Live member-component dir names this store covers. */
  @volatile private var known: Set[String] = Set.empty

  def knownPaths: Set[String] = known

  def size: Int = nEntries

  private def slot(bkey: Long): Int = {
    val mask = tableKeys.length - 1
    var i = (java.lang.Long.hashCode(bkey * 0x9e3779b97f4a7c15L)) & mask
    while (tableUsed(i) && tableKeys(i) != bkey) i = (i + 1) & mask
    i
  }

  private def growTable(): Unit = {
    val oldKeys = tableKeys; val oldUsed = tableUsed; val oldHead = tableHead
    tableBits += 1
    tableKeys = new Array[Long](1 << tableBits)
    tableUsed = new Array[Boolean](1 << tableBits)
    tableHead = new Array[Int](1 << tableBits)
    var i = 0
    while (i < oldKeys.length) {
      if (oldUsed(i)) {
        val s = slot(oldKeys(i))
        tableKeys(s) = oldKeys(i); tableUsed(s) = true; tableHead(s) = oldHead(i)
      }
      i += 1
    }
  }

  private def insert(band: Int, bkey: Long, mid: Long): Unit = {
    if ((tableOccupancy + 1) * 2 > tableKeys.length) growTable()
    if (nEntries == entryMid.length) {
      entryBand = java.util.Arrays.copyOf(entryBand, nEntries * 2)
      entryMid = java.util.Arrays.copyOf(entryMid, nEntries * 2)
      entryNext = java.util.Arrays.copyOf(entryNext, nEntries * 2)
    }
    val s = slot(bkey)
    val head = if (tableUsed(s)) tableHead(s) else -1
    if (!tableUsed(s)) { tableKeys(s) = bkey; tableUsed(s) = true; tableOccupancy += 1 }
    entryBand(nEntries) = band
    entryMid(nEntries) = mid
    entryNext(nEntries) = head
    tableHead(s) = nEntries
    nEntries += 1
  }

  private var tableOccupancy = 0

  /** Distinct member doc ids of each probed bucket, present keys only.
    * Bounded by the write-side bucket cap times the key count — never
    * corpus-proportional.
    */
  def bucketMembers(
      keys: Array[(Int, Long)]): Map[(Int, Long), Array[Long]] = synchronized {
    val out = Map.newBuilder[(Int, Long), Array[Long]]
    keys.foreach { case (band, bkey) =>
      val s = slot(bkey)
      if (tableUsed(s)) {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        var e = tableHead(s)
        while (e != -1) {
          if (entryBand(e) == band) buf += entryMid(e)
          e = entryNext(e)
        }
        if (buf.nonEmpty) out += (band, bkey) -> buf.toArray.distinct.sorted
      }
    }
    out.result()
  }

  /** Packed b-bit signatures ([[MembershipStore.packSig8]] layout) for
    * the given member ids (present ids only).
    */
  def memberSigs(ids: Array[Long]): Map[Long, Array[Long]] = synchronized {
    val b = Map.newBuilder[Long, Array[Long]]
    ids.foreach { id =>
      val s = sigMap.get(id)
      if (s != null) b += id -> s
    }
    b.result()
  }

  /** Write-through of one trigger's admissions, called strictly AFTER
    * the durable parquet write of `batch=<id>` lands (a crash between
    * the two is healed by the next [[ensureCovers]], which seeds the
    * component). Idempotent per batchId for replays.
    */
  def put(batchId: Long, members: Seq[(Int, Long, Long)],
      sigsPk: Map[Long, Array[Long]]): Unit = synchronized {
    members.foreach { case (band, bkey, mid) => insert(band, bkey, mid) }
    sigsPk.foreach { case (id, s) => sigMap.put(id, s); () }
    // the component name the consumer's parquet write used — covered
    // now, so the next ensureCovers doesn't re-seed (= double-insert)
    // our own admissions
    known += s"batch=$batchId"
    ()
  }

  def clear(): Unit = synchronized {
    tableBits = 16
    tableKeys = new Array[Long](1 << tableBits)
    tableUsed = new Array[Boolean](1 << tableBits)
    tableHead = new Array[Int](1 << tableBits)
    tableOccupancy = 0
    nEntries = 0
    entryBand = new Array[Int](1 << 16)
    entryMid = new Array[Long](1 << 16)
    entryNext = new Array[Int](1 << 16)
    sigMap.clear()
    known = Set.empty
  }

  /** Make the store cover exactly the live member components `liveDirs`
    * (component dir NAMES, e.g. "compacted=-1", "batch=7") of
    * `indexDir`. Novel components are seeded incrementally (one
    * member + one sig scan over just those dirs); components the store
    * covered that are GONE mean a fold the caller didn't certify with
    * [[resyncAfterFold]] — full rebuild. First attach (known empty)
    * seeds everything: a one-time O(index) cost per store.
    */
  def ensureCovers(
      spark: SparkSession, indexDir: String, liveDirs: Set[String]): Unit = synchronized {
    if ((known -- liveDirs).nonEmpty) clear()
    val fresh = (liveDirs -- known).toSeq.sorted
    if (fresh.isEmpty) return
    val mPaths = fresh.map(n => s"$indexDir/members/$n")
    val sPaths = fresh.map(n => s"$indexDir/sigs/$n")
    spark.read.parquet(mPaths: _*)
      .select(col("band"), col("bkey"), col("doc_id"))
      .collect()
      .foreach(r => insert(r.getInt(0), r.getLong(1), r.getLong(2)))
    // a sig component may lag its member twin by one writer crash — the
    // streaming probe already treats a missing sig as a non-hit
    val fs = new org.apache.hadoop.fs.Path(s"$indexDir/sigs")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sLive = sPaths.filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (sLive.nonEmpty)
      spark.read.parquet(sLive: _*)
        .select(col("doc_id"), col("sig8"))
        .collect()
        .foreach { r =>
          sigMap.put(r.getLong(0),
            MembershipStore.packSig8(r.getSeq[Long](1).toArray))
          ()
        }
    known ++= fresh
  }

  /** See [[MembershipStore.StoreStats]]. Bytes = the primitive backing
    * arrays (13 B/table slot: key + used + head; 16 B/entry capacity:
    * band + mid + next) + packed sig words + ~64 B/sig JVM overhead
    * (HashMap node + boxed key + array header).
    */
  def stats: MembershipStore.StoreStats = synchronized {
    var sigWords = 0L
    val it = sigMap.values().iterator()
    while (it.hasNext) sigWords += it.next().length
    val bytes = tableKeys.length.toLong * 13L + entryMid.length.toLong * 16L +
      sigWords * 8L + sigMap.size.toLong * 64L
    MembershipStore.StoreStats(nEntries, sigMap.size, bytes)
  }

  /** The caller's own compaction renamed covered components WITHOUT
    * changing their content (folds are pure concatenation) — adopt the
    * new names instead of rebuilding. Only valid when the store was
    * fully covering before the fold; a cleared store ignores this and
    * re-seeds at the next ensureCovers.
    */
  def resyncAfterFold(liveDirs: Set[String]): Unit = synchronized {
    if (known.nonEmpty) known = liveDirs
  }
}
