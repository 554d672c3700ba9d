package graft.operators

import graft.SparkSpec
import graft.streaming.DedupStreams
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The streaming trigger's point-lookup probe: the in-memory store must
  * be a pure WORK substitution — identical bucket-member sets and
  * signature maps as the members and sigs frames, and identical stream
  * survivors and index rows as the over-cap distributed spelling, which
  * reads the parquet index directly — with its coverage protocol (seed /
  * write-through / fold-resync / out-of-band rebuild) proven rather than
  * documented.
  */
class MembershipStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_store_$tag").toString

  test("in-memory store agrees with the members frame lookup-for-lookup") {
    val corpus = tables.documents.select($"doc_id", $"text")
    val dir = tmpDir("agree")
    SignatureIndex.build(corpus, "doc_id", "text", dir)
    // probe keys: every bucket of a slice of the corpus itself (hits
    // guaranteed) plus some absent keys
    val keys = SignatureIndex.members(spark, dir)
      .filter($"doc_id" % 5 === 0)
      .select($"band", $"bkey").distinct()
      .as[(Int, Long)].collect() ++ Array((0, 12345L), (31, -7L))
    val frame = SignatureIndex.members(spark, dir)
      .select($"band", $"bkey", $"doc_id")
      .as[(Int, Long, Long)].collect()
      .groupBy(t => (t._1, t._2))
      .map { case (k, vs) => k -> vs.map(_._3).distinct.sorted.toSeq }
    val keySet = keys.toSet
    val want = frame.filter(t => keySet.contains(t._1))
    val im = new InMemoryMembershipStore
    im.ensureCovers(spark, dir,
      SignatureIndex.componentNames(spark, dir, "members").toSet)
    val mm = im.bucketMembers(keys).map { case (k, v) => k -> v.toSeq }
    assert(mm == want, s"in-memory store diverged (${mm.size} vs ${want.size} buckets)")
    // signatures: same ids, the packed bytes of the sigs table
    val ids = want.valuesIterator.flatten.toArray.distinct
    val sp = SignatureIndex.sigs(spark, dir)
      .select($"doc_id", $"sig8").as[(Long, Array[Long])].collect()
      .map { case (id, s) => id -> MembershipStore.packSig8(s) }.toMap
    val sm = im.memberSigs(ids)
    assert(sm.keySet == ids.toSet)
    assert(ids.forall(id => java.util.Arrays.equals(sp(id), sm(id))))
  }

  private def streamCorpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog again and again today",
    2L -> "completely different content about spark physical plans and shuffles",
    3L -> "the quick brown fox jumps over the lazy dog again and again today",
    4L -> "third unrelated document mentioning parquet statistics and pruning",
    5L -> "the quick brown fox jumps over the lazy dog again and again yesterday",
    6L -> "completely different content about spark physical plans and shuffles",
    7L -> "ab"
  ).toDF("doc_id", "text")

  private def drain(
      store: Option[InMemoryMembershipStore], slices: Seq[Seq[Long]],
      compactEvery: Int = 0): (Set[Long], String) = {
    val root = Files.createTempDirectory("graft_store_drain").toString
    val out = s"$root/out"; val idx = s"$root/index"
    slices.zipWithIndex.foreach { case (ids, i) =>
      DedupStreams.dedupBatch(
        streamCorpus.filter(col("doc_id").isin(ids: _*)), out, idx,
        threshold = 0.7, batchId = i, compactEvery = compactEvery, store = store)
    }
    (spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet, idx)
  }

  test("store-backed stream drain retains exactly the distributed spelling's survivors, and writes the identical index") {
    val slices = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L))
    // budget 0: every batch takes the distributed spelling, which probes
    // the parquet index with a broadcast join and never touches a store
    val (dist, idxA) = withDriverBudget(0L)(drain(None, slices))
    val (kv, idxB) = drain(Some(new InMemoryMembershipStore), slices)
    assert(dist == Set(1L, 2L, 4L, 7L))
    assert(kv == dist)
    def indexRows(idx: String) = (
      SignatureIndex.members(spark, idx)
        .select($"band", $"bkey", $"doc_id").as[(Int, Long, Long)].collect().toSet,
      SignatureIndex.sigs(spark, idx)
        .select($"doc_id", $"sig8").as[(Long, Seq[Long])].collect().toSet)
    assert(indexRows(idxB) == indexRows(idxA),
      "the KV-probed run must write the same durable index rows")
  }

  test("store-backed drain survivors are independent of batching") {
    val one = drain(Some(new InMemoryMembershipStore), Seq(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)))._1
    val perDoc = drain(Some(new InMemoryMembershipStore), (1L to 7L).map(Seq(_)))._1
    assert(one == perDoc)
  }

  test("in-memory store survives its own folds via resync and absorbs out-of-band appends via seeding") {
    val st = new InMemoryMembershipStore
    val root = Files.createTempDirectory("graft_store_fold").toString
    val out = s"$root/out"; val idx = s"$root/index"
    // 6 single-doc batches with compactEvery=2: folds at batches 2 and 4
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    ids.zipWithIndex.foreach { case (id, i) =>
      DedupStreams.dedupBatch(
        streamCorpus.filter(col("doc_id") === id), out, idx,
        threshold = 0.7, batchId = i, compactEvery = 2, store = Some(st))
    }
    val survivors = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 4L), s"got $survivors")
    // post-fold coverage names must match the live listing exactly
    val live = SignatureIndex.componentNames(spark, idx, "members").toSet
    assert(st.knownPaths == live, s"known=${st.knownPaths} live=$live")
    // out-of-band append (a batch writer this store never saw): next
    // ensureCovers seeds it and the new doc's copies get flagged
    SignatureIndex.append(
      Seq(100L -> "an entirely new retained document about columnar encodings")
        .toDF("doc_id", "text"),
      "doc_id", "text", idx, batchId = 50L,
      cfg = SignatureIndex.Config(3, 128, 32, 4))
    DedupStreams.dedupBatch(
      Seq(101L -> "an entirely new retained document about columnar encodings")
        .toDF("doc_id", "text"),
      out, idx, threshold = 0.7, batchId = 51L, compactEvery = 0, store = Some(st))
    val after = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet
    assert(!after.contains(101L),
      "copy of the out-of-band appended doc must be dropped (store seeded the append)")
  }

  test("in-memory store coverage violation (uncertified fold) forces a full rebuild, not a silent miss") {
    val st = new InMemoryMembershipStore
    val root = Files.createTempDirectory("graft_store_oob").toString
    val out = s"$root/out"; val idx = s"$root/index"
    DedupStreams.dedupBatch(
      streamCorpus.filter(col("doc_id") <= 2), out, idx,
      threshold = 0.7, batchId = 0, compactEvery = 0, store = Some(st))
    // an out-of-band MAJOR fold renames everything under names the
    // store never certified
    SignatureIndex.compact(spark, idx, upTo = 0L)
    DedupStreams.dedupBatch(
      streamCorpus.filter(col("doc_id") === 3), out, idx,
      threshold = 0.7, batchId = 1, compactEvery = 0, store = Some(st))
    val after = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet
    assert(after == Set(1L, 2L), s"doc 3 (copy of 1) must still be dropped: $after")
  }
}
