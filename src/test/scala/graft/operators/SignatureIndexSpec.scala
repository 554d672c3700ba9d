package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SignatureIndex: the persisted banded corpus index and its probe must
  * be a pure WORK optimization — index-backed admission ≡ the in-plan
  * recompute — and the on-disk layout must interoperate with the
  * streaming ingest in both directions (stream-built index probed by
  * batch; batch-built index seeding a stream).
  */
class SignatureIndexSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sigidx_$tag").toString

  /** q124-shaped scenario over the sf0.001 documents: corpus = documents,
    * batch = exact/near/novel cohorts at ids +2000000.
    */
  private def scenario() = {
    import spark.implicits._
    val a = tables.documents.select($"doc_id", $"text")
    val cohort = when($"doc_id" % 9 === 3, lit("exact"))
      .when($"doc_id" % 7 === 2, lit("near"))
      .when($"doc_id" % 13 === 5, lit("novel"))
    val b = a.withColumn("cohort", cohort).filter($"cohort".isNotNull)
      .select(($"doc_id" + 2000000L).as("doc_id"),
        when($"cohort" === "exact", $"text")
          .when($"cohort" === "near", concat($"text", lit(" edited")))
          .otherwise(concat(lit("fresh item "), $"doc_id".cast("string"),
            lit(" unseen content"))).as("text"))
    (a, b)
  }

  test("index-backed probe flags exactly the ids the in-plan recompute flags") {
    import spark.implicits._
    val (corpus, batch) = scenario()
    val dir = tmpDir("equiv")
    SignatureIndex.build(corpus, "doc_id", "text", dir)
    val indexed = SignatureIndex
      .probeNearDuplicateIds(spark, dir, corpus, batch, "doc_id", "text", threshold = 0.7)
      .as[Long].collect().toSet
    val u = corpus.withColumn("is_new", lit(false))
      .unionByName(batch.withColumn("is_new", lit(true)))
    val recomputed = Decontamination
      .batchNearDuplicateIds(u, "doc_id", "text", $"is_new", threshold = 0.7)
      .as[Long].collect().toSet
    assert(indexed.nonEmpty, "scenario must produce at least one flagged batch doc")
    assert(indexed == recomputed,
      s"index-backed flag set diverged: only-indexed=${(indexed -- recomputed).take(5)} " +
        s"only-recomputed=${(recomputed -- indexed).take(5)}")
  }

  test("merged shard indexes probe identically to a whole-built index") {
    import spark.implicits._
    val (corpus, batch) = scenario()
    val whole = tmpDir("whole")
    SignatureIndex.build(corpus, "doc_id", "text", whole)
    // shard on doc-id parity; shard 1 additionally carries part of its
    // corpus as an APPEND component, so the merge exercises the full
    // listing (epoch + live batch dirs), not just epochs
    val s0 = tmpDir("shard0")
    val s1 = tmpDir("shard1")
    SignatureIndex.build(corpus.filter($"doc_id" % 2 === 0), "doc_id", "text", s0)
    SignatureIndex.build(
      corpus.filter($"doc_id" % 2 === 1 && $"doc_id" % 5 =!= 2), "doc_id", "text", s1)
    SignatureIndex.append(
      corpus.filter($"doc_id" % 2 === 1 && $"doc_id" % 5 === 2), "doc_id", "text",
      s1, batchId = 0L)
    val merged = tmpDir("merged")
    SignatureIndex.merge(spark, Seq(s0, s1), merged)
    def flags(dir: String): Set[Long] = SignatureIndex
      .probeNearDuplicateIds(spark, dir, corpus, batch, "doc_id", "text", 0.7)
      .as[Long].collect().toSet
    val w = flags(whole)
    assert(w.nonEmpty, "scenario must flag at least one batch doc")
    assert(flags(merged) == w, "merged index diverged from the whole-built index")
    // membership row sets are identical too (merge is a pure union)
    val mw = SignatureIndex.members(spark, whole)
      .select($"band", $"bkey", $"doc_id")
    val mm = SignatureIndex.members(spark, merged)
      .select($"band", $"bkey", $"doc_id")
    assert(mw.exceptAll(mm).isEmpty && mm.exceptAll(mw).isEmpty)
  }

  test("capped build admits the lowest-id docs per bucket, never more than cap") {
    import spark.implicits._
    // four exact duplicates collide in every band's bucket
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (2L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (3L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (4L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (9L, "a completely unrelated document about spark partitioning")).toDF("doc_id", "text")
    val dir = tmpDir("cap")
    SignatureIndex.build(docs, "doc_id", "text", dir, bucketCap = 2)
    val byBucket = SignatureIndex.members(spark, dir)
      .groupBy($"band", $"bkey").agg(collect_set($"doc_id").as("ids"))
      .select($"ids").as[Seq[Long]].collect()
    assert(byBucket.forall(_.size <= 2), "bucket over cap")
    // the duplicate quartet's buckets must keep {1, 2} (lowest ids)
    val dupBuckets = byBucket.filter(ids => ids.exists(Set(1L, 2L, 3L, 4L)))
    assert(dupBuckets.nonEmpty && dupBuckets.forall(_.toSet.subsetOf(Set(1L, 2L, 9L))),
      s"capped admission must keep lowest ids: ${dupBuckets.take(3)}")
    // sigs only for admitted (reachable) docs
    val sigIds = SignatureIndex.sigs(spark, dir).select($"doc_id").as[Long].collect().toSet
    assert(!sigIds.contains(3L) && !sigIds.contains(4L),
      "sigs must exclude docs admitted to zero buckets")
  }

  test("a stream-built index is probe-able through SignatureIndex") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(200)
    val out = tmpDir("streamout"); val idx = tmpDir("streamidx")
    graft.streaming.DedupStreams.dedupOnce(corpus, out, idx, threshold = 0.7)
    val m = SignatureIndex.members(spark, idx)
    assert(m.columns.toSet == Set("band", "bkey", "doc_id"))
    assert(m.count() > 0, "stream-built members table must be readable")
    // probing the stream-built index with an exact copy of a retained doc
    // flags it (the retained corpus is indexed under the same banding)
    val retained = spark.read.parquet(out)
    val one = retained.orderBy($"doc_id").limit(1)
      .select(($"doc_id" + 5000000L).as("doc_id"), $"text")
    val flagged = SignatureIndex.probeNearDuplicateIds(
      spark, idx, retained.select($"doc_id", $"text"), one, "doc_id", "text", 0.7)
      .as[Long].collect()
    assert(flagged.length == 1, s"exact copy of an indexed doc must be flagged: $flagged")
  }

  test("a batch-built index seeds the streaming ingest (epoch -1 precedes batch 0)") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(100)
    val out = tmpDir("seedout"); val idx = tmpDir("seedidx")
    SignatureIndex.build(corpus, "doc_id", "text", idx)
    // stream batch 0 carries one exact duplicate of an indexed doc and
    // one novel doc: the duplicate must be dropped against the seeded
    // index, the novel doc retained
    val dup = corpus.orderBy($"doc_id").limit(1)
      .select(($"doc_id" + 5000000L).as("doc_id"), $"text")
    val novel = Seq((9000000L, "a genuinely novel document with fresh unseen content entirely"))
      .toDF("doc_id", "text")
    graft.streaming.DedupStreams.dedupOnce(dup.unionByName(novel), out, idx, threshold = 0.7)
    val kept = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(9000000L),
      s"seeded stream must drop the indexed duplicate and keep the novel doc: $kept")
  }

  test("an index seeded AFTER the stream first touched the dir still drops duplicates") {
    import spark.implicits._
    // order of operations is the hazard: the stream's first trigger fills
    // its store from the (then-empty) dir; the batch build then seeds
    // compacted=-1 out of band. The next trigger's store must notice the
    // uncovered component and seed it — a store that trusted its own
    // puts would miss every seeded key and retain exact duplicates.
    val corpus = tables.documents.select($"doc_id", $"text").limit(100)
    val idx = tmpDir("lateseed")
    val store = Some(new InMemoryMembershipStore)
    val novel0 = Seq((8000000L, "an early novel document before the corpus seed arrives"))
      .toDF("doc_id", "text")
    graft.streaming.DedupStreams.dedupBatch(novel0, tmpDir("lateout0"), idx,
      threshold = 0.7, batchId = 0, store = store)
    SignatureIndex.build(corpus, "doc_id", "text", idx)
    val dup = corpus.orderBy($"doc_id").limit(1)
      .select(($"doc_id" + 5000000L).as("doc_id"), $"text")
    val novel = Seq((9000000L, "a genuinely novel document with fresh unseen content entirely"))
      .toDF("doc_id", "text")
    val out = tmpDir("lateout1")
    graft.streaming.DedupStreams.dedupBatch(dup.unionByName(novel), out, idx,
      threshold = 0.7, batchId = 1, store = store)
    val kept = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(9000000L),
      s"late-seeded index must still drop the duplicate (stale-store hazard): $kept")
  }

  test("append makes admitted docs probe-visible; excludeBatch restores the as-of view") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(100)
    val idx = tmpDir("append")
    SignatureIndex.build(corpus, "doc_id", "text", idx)
    val admitted = Seq(
      (7000001L, "a freshly admitted refresh document with plenty of novel content"),
      (7000002L, "another admitted document carrying entirely different novel text"))
      .toDF("doc_id", "text")
    SignatureIndex.append(admitted, "doc_id", "text", idx, batchId = 0L)
    val corpus2 = corpus.unionByName(admitted)
    // an exact copy of an appended doc must be flagged through the index
    val probe = Seq((7100001L, "a freshly admitted refresh document with plenty of novel content"))
      .toDF("doc_id", "text")
    val flagged = SignatureIndex.probeNearDuplicateIds(
      spark, idx, corpus2, probe, "doc_id", "text", 0.7).as[Long].collect()
    assert(flagged.toSet == Set(7100001L),
      s"copy of an appended doc must be flagged: ${flagged.toSeq}")
    // the as-of-before-append view (a replayed refresh's own batch id)
    // must NOT see the appended component
    val asOf = SignatureIndex.probeNearDuplicateIds(
      spark, idx, corpus2, probe, "doc_id", "text", 0.7,
      excludeBatch = Some(0L)).as[Long].collect()
    assert(asOf.isEmpty,
      s"excludeBatch must hide the appended component: ${asOf.toSeq}")
  }

  test("appendFromSignatures writes the identical component append would") {
    import spark.implicits._
    // the r13 refresh-loop optimization reuses the probe's signature
    // frame for the append — the two spellings must produce identical
    // members and sigs tables (rows, not just counts)
    val corpus = tables.documents.select($"doc_id", $"text").limit(100)
    val admitted = Seq(
      (7000001L, "a freshly admitted refresh document with plenty of novel content"),
      (7000002L, "another admitted document carrying entirely different novel text"))
      .toDF("doc_id", "text")
    val idxA = tmpDir("appendtext")
    val idxB = tmpDir("appendsigs")
    SignatureIndex.build(corpus, "doc_id", "text", idxA)
    SignatureIndex.build(corpus, "doc_id", "text", idxB)
    SignatureIndex.append(admitted, "doc_id", "text", idxA, batchId = 0L)
    val cfg = SignatureIndex.Config()
    SignatureIndex.appendFromSignatures(
      MinHashLSH.signatures(
        Dedup.charShingles(admitted, "doc_id", "text", cfg.shingleN), cfg.numPerms),
      idxB, batchId = 0L)
    def membersOf(idx: String) = spark.read
      .parquet(s"$idx/members/batch=0")
      .select($"doc_id", $"band", $"bkey")
      .as[(Long, Int, Long)].collect().toSet
    def sigsOf(idx: String) = spark.read.parquet(s"$idx/sigs/batch=0")
      .select($"doc_id", $"sig8")
      .as[(Long, Seq[Long])].collect().map { case (d, s) => (d, s.toList) }.toSet
    assert(membersOf(idxA) == membersOf(idxB))
    assert(sigsOf(idxA) == sigsOf(idxB))
  }

  test("append replay overwrites its own component (idempotent)") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(50)
    val idx = tmpDir("replay")
    SignatureIndex.build(corpus, "doc_id", "text", idx)
    val admitted = Seq((7000001L, "an admitted refresh document with plenty of novel content"))
      .toDF("doc_id", "text")
    SignatureIndex.append(admitted, "doc_id", "text", idx, batchId = 0L)
    val before = SignatureIndex.members(spark, idx).count()
    SignatureIndex.append(admitted, "doc_id", "text", idx, batchId = 0L)
    assert(SignatureIndex.members(spark, idx).count() == before,
      "a replayed append must overwrite, not stack, its batch component")
  }

  test("append at or below the fold floor is rejected loudly") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(50)
    val idx = tmpDir("floor")
    SignatureIndex.build(corpus, "doc_id", "text", idx) // epoch compacted=-1
    val docs = Seq((7000001L, "some admitted document text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SignatureIndex.append(docs, "doc_id", "text", idx, batchId = -1L)
    }
    assert(e.getMessage.contains("fold floor"),
      s"sub-floor append must name the floor: ${e.getMessage}")
  }

  test("a stream-built index accepts batch appends (ids stack above the stream's)") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(100)
    val out = tmpDir("mixout"); val idx = tmpDir("mixidx")
    graft.streaming.DedupStreams.dedupOnce(corpus, out, idx, threshold = 0.7) // batch=0
    val admitted = Seq(
      (7000001L, "a batch-admitted document appended after the stream's own trigger"))
      .toDF("doc_id", "text")
    SignatureIndex.append(admitted, "doc_id", "text", idx, batchId = 1000000L)
    val retained = spark.read.parquet(out).select($"doc_id", $"text")
    val probe = Seq((7100001L, "a batch-admitted document appended after the stream's own trigger"))
      .toDF("doc_id", "text")
    val flagged = SignatureIndex.probeNearDuplicateIds(
      spark, idx, retained.unionByName(admitted), probe, "doc_id", "text", 0.7)
      .as[Long].collect()
    assert(flagged.toSet == Set(7100001L),
      s"append onto a stream-built index must be probe-visible: ${flagged.toSeq}")
  }

  test("appended components fold under compact; probe results are unchanged") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(100)
    val idx = tmpDir("compactb")
    SignatureIndex.build(corpus, "doc_id", "text", idx)
    val admitted = Seq(
      (7000001L, "first refresh admitted a document with plenty of novel content"),
      (7000002L, "second refresh admitted different text with its own novel words"),
      (7000003L, "third refresh admitted yet another entirely distinct document"))
      .toDF("doc_id", "text")
    admitted.collect().zipWithIndex.foreach { case (r, i) =>
      SignatureIndex.append(
        Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text"),
        "doc_id", "text", idx, batchId = i.toLong)
    }
    val corpus2 = corpus.unionByName(admitted)
    val probe = admitted.select(($"doc_id" + 100000L).as("doc_id"), $"text")
    def flags(): Set[Long] = SignatureIndex.probeNearDuplicateIds(
      spark, idx, corpus2, probe, "doc_id", "text", 0.7).as[Long].collect().toSet
    val before = flags()
    assert(before == Set(7100001L, 7100002L, 7100003L),
      s"all three appended docs must be probe-visible pre-compact: $before")
    SignatureIndex.compact(spark, idx, upTo = 2L)
    val names = {
      val dir = new org.apache.hadoop.fs.Path(s"$idx/members")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
    }
    assert(!names.exists(_.startsWith("batch=")),
      s"compact(upTo=2) must fold all three batch dirs: $names")
    assert(flags() == before,
      "fold must be a pure concatenation: probe flags unchanged")
    // post-fold appends stack above the new floor
    SignatureIndex.append(
      Seq((7000004L, "a fourth refresh document appended after the fold"))
        .toDF("doc_id", "text"), "doc_id", "text", idx, batchId = 3L)
    val p4 = Seq((7100004L, "a fourth refresh document appended after the fold"))
      .toDF("doc_id", "text")
    val f4 = SignatureIndex.probeNearDuplicateIds(
      spark, idx,
      corpus2.unionByName(Seq((7000004L, "a fourth refresh document appended after the fold"))
        .toDF("doc_id", "text")),
      p4, "doc_id", "text", 0.7).as[Long].collect().toSet
    assert(f4 == Set(7100004L), s"append after compact must be probe-visible: $f4")
  }

  test("a driver-written component carries a DataFrame write's parquet schema and row metadata") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val root = tmpDir("writer")
    val members = Seq((3, 11L, 7L), (0, -5L, 2L))
    val sigs = Seq(7L -> Seq(1L, 255L, 0L), 2L -> Seq(4L, 4L, 4L))
    members.toDF("band", "bkey", "doc_id").coalesce(1).write.parquet(s"$root/frame/members")
    sigs.toDF("doc_id", "sig8").coalesce(1).write.parquet(s"$root/frame/sigs")
    // a stale component the driver write must replace, as overwrite does
    Seq((9, 9L, 9L)).toDF("band", "bkey", "doc_id").write.parquet(s"$root/driver/members")
    SignatureIndex.writeComponent(spark, s"$root/driver/members", SignatureIndex.MembersSchema,
      members.iterator.map { case (b, k, d) => InternalRow(b, k, d) })
    SignatureIndex.writeComponent(spark, s"$root/driver/sigs", SignatureIndex.SigsSchema,
      sigs.iterator.map { case (d, s) => InternalRow(d, UnsafeArrayData.fromPrimitiveArray(s.toArray)) })
    val conf = spark.sessionState.newHadoopConf()
    def footer(dir: String) = {
      val part = new java.io.File(dir).listFiles().map(_.getPath)
        .filter(p => p.endsWith(".parquet") && !p.contains("/."))
      assert(part.length == 1, s"expected one parquet file in $dir: ${part.toSeq}")
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.head), conf))
      try r.getFooter finally r.close()
    }
    for (t <- Seq("members", "sigs")) {
      val (a, b) = (footer(s"$root/frame/$t"), footer(s"$root/driver/$t"))
      assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema,
        s"$t parquet schema: ${a.getFileMetaData.getSchema} vs ${b.getFileMetaData.getSchema}")
      val key = "org.apache.spark.sql.parquet.row.metadata"
      assert(a.getFileMetaData.getKeyValueMetaData.get(key) ==
        b.getFileMetaData.getKeyValueMetaData.get(key), s"$t row metadata")
      assert(a.getBlocks.get(0).getColumns.get(0).getCodec ==
        b.getBlocks.get(0).getColumns.get(0).getCodec, s"$t codec")
      assert(new java.io.File(s"$root/driver/$t/_SUCCESS").exists, s"$t _SUCCESS")
      assert(spark.read.parquet(s"$root/driver/$t").collect().toSeq ==
        spark.read.parquet(s"$root/frame/$t").collect().toSeq, s"$t rows or row order")
    }
    assert(!new java.io.File(s"$root/driver").list().exists(_.contains(".tmp-")),
      "the temp dir outlived its rename")
  }

  // ---- driver fold vs distributed fold --------------------------------

  /** Docs of 30 seeded-random words: near-zero shingle overlap. */
  private def randomDocs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map { i =>
      val rng = new scala.util.Random(i)
      i -> Seq.fill(30)(rng.alphanumeric.take(8).mkString).mkString(" ")
    }.toDF("doc_id", "text")
  }

  /** The parquet data files of one component dir, as spark.read lists them. */
  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** Parquet bytes of components `names` of both tables of `idx`. */
  private def sourceBytes(idx: String, names: Seq[String]): Long =
    (for (t <- Seq("sigs", "members"); n <- names; f <- dataFiles(s"$idx/$t/$n"))
      yield f.length).sum

  /** Run `fold(root)` into two roots: `driverRoot` under the driver budget
    * and `fallbackRoot` with the budget lowered to `fallbackBytes`. The
    * first must run no Spark job; the second must take the distributed
    * rewrite, every job described `index.fold <target>`. Both must write
    * `target` with the same rows, each file key-sorted, in the same
    * parquet schema, row metadata and codec, with `_SUCCESS`. */
  private def assertFoldPathsAgree(
      driverRoot: String, fallbackRoot: String, target: String, fallbackBytes: Long)(
      fold: String => Unit): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    assert(jobsDuring(fold(driverRoot)).isEmpty, s"$target: an under-budget fold ran a Spark job")
    val fallbackJobs = withDriverBudget(fallbackBytes)(jobsDuring(fold(fallbackRoot)))
    assert(fallbackJobs.nonEmpty, s"$target: an over-budget fold ran no Spark job")
    assert(fallbackJobs.forall(_ == s"index.fold $target"),
      s"$target: fallback job descriptions $fallbackJobs")
    assert(sc.getLocalProperty("spark.job.description") == prevDesc,
      "the fold left its job description behind")
    val conf = spark.sessionState.newHadoopConf()
    def footer(f: java.io.File) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getFooter finally r.close()
    }
    for ((table, key) <- Seq("sigs" -> "doc_id", "members" -> "bkey")) {
      val (d, f) = (s"$driverRoot/$table/$target", s"$fallbackRoot/$table/$target")
      for (dir <- Seq(d, f)) {
        assert(new java.io.File(s"$dir/_SUCCESS").exists, s"$dir: no _SUCCESS")
        for (file <- dataFiles(dir)) {
          val keys = spark.read.parquet(file.getPath).select(col(key)).as[Long].collect()
          assert(keys.sameElements(keys.sorted), s"$file: $key not non-decreasing")
        }
      }
      assert(dataFiles(d).size == 1, s"$d: the driver fold writes one file per table")
      def rows(dir: String) =
        spark.read.parquet(dir).collect().map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case v => v
        }.toString).sorted.toSeq
      assert(rows(d).nonEmpty && rows(d) == rows(f), s"$table: row multisets differ")
      val (a, b) = (footer(dataFiles(d).head), footer(dataFiles(f).head))
      assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema,
        s"$table parquet schema: ${a.getFileMetaData.getSchema} vs ${b.getFileMetaData.getSchema}")
      val meta = "org.apache.spark.sql.parquet.row.metadata"
      assert(a.getFileMetaData.getKeyValueMetaData.get(meta) ==
        b.getFileMetaData.getKeyValueMetaData.get(meta), s"$table row metadata")
      assert(a.getBlocks.get(0).getColumns.get(0).getCodec ==
        b.getBlocks.get(0).getColumns.get(0).getCodec, s"$table codec")
    }
  }

  /** Live component names of both tables, which must agree. */
  private def liveNames(idx: String): Seq[String] = {
    val names = Seq("members", "sigs").map(t => SignatureIndex.componentNames(spark, idx, t))
    assert(names(0) == names(1), s"members and sigs listings differ: $names")
    names(0)
  }

  test("a minor fold under the driver budget runs no job and matches the distributed fold") {
    val base = tmpDir("minorbase")
    SignatureIndex.build(randomDocs(0L until 600L), "doc_id", "text", base)
    (0 until 4).foreach(b => SignatureIndex.append(
      randomDocs((1000L + 20 * b) until (1020L + 20 * b)), "doc_id", "text", base, b.toLong))
    // the fallback budget passes the parquet-bytes gate and trips on the
    // decoded rows
    val bytes = sourceBytes(base, (0 until 4).map(b => s"batch=$b"))
    val (d, f) = (tmpDir("minordriver"), tmpDir("minorfallback"))
    copyDir(base, d); copyDir(base, f)
    assertFoldPathsAgree(d, f, "run=3", bytes)(SignatureIndex.compact(spark, _, upTo = 3L))
    assert(liveNames(d) == Seq("compacted=-1", "run=3") && liveNames(f) == liveNames(d))
  }

  test("a major fold absorbing MaxRuns runs matches the distributed fold") {
    val base = tmpDir("majorbase")
    SignatureIndex.build(randomDocs(0L until 10L), "doc_id", "text", base)
    (0 until 12).foreach(b => SignatureIndex.append(
      randomDocs((1000L + 5 * b) until (1005L + 5 * b)), "doc_id", "text", base, b.toLong))
    // batches 0..7 stand as the minor folds' run= dirs
    for (t <- Seq("members", "sigs"); b <- 0 until SignatureIndex.MaxRuns)
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$base/$t/batch=$b"),
        java.nio.file.Paths.get(s"$base/$t/run=$b"))
    assert(liveNames(base) == Seq("compacted=-1") ++ (0 until 8).map(r => s"run=$r") ++
      (8 until 12).map(b => s"batch=$b"))
    val (d, f) = (tmpDir("majordriver"), tmpDir("majorfallback"))
    copyDir(base, d); copyDir(base, f)
    // a budget of one byte: the parquet-bytes gate falls back before any read
    assertFoldPathsAgree(d, f, "compacted=11", 1L)(SignatureIndex.compact(spark, _, upTo = 11L))
    assert(liveNames(d) == Seq("compacted=11") && liveNames(f) == liveNames(d))
  }

  test("merge under the driver budget runs no job and matches the distributed merge") {
    val s0 = tmpDir("mshard0"); val s1 = tmpDir("mshard1")
    SignatureIndex.build(randomDocs(0L until 100L), "doc_id", "text", s0)
    SignatureIndex.build(randomDocs(100L until 200L), "doc_id", "text", s1)
    SignatureIndex.append(randomDocs(200L until 220L), "doc_id", "text", s1, 0L)
    val bytes = sourceBytes(s0, Seq("compacted=-1")) + sourceBytes(s1, Seq("compacted=-1", "batch=0"))
    val (d, f) = (tmpDir("mergedriver"), tmpDir("mergefallback"))
    assertFoldPathsAgree(d, f, "compacted=-1", bytes)(SignatureIndex.merge(spark, Seq(s0, s1), _))
    assert(liveNames(d) == Seq("compacted=-1"))
  }

  test("probing with mismatched derivation params fails loudly") {
    import spark.implicits._
    val corpus = tables.documents.select($"doc_id", $"text").limit(50)
    val dir = tmpDir("params")
    SignatureIndex.build(corpus, "doc_id", "text", dir)
    val batch = corpus.select(($"doc_id" + 1000000L).as("doc_id"), $"text").limit(5)
    val e = intercept[IllegalArgumentException] {
      SignatureIndex.probeNearDuplicateIds(
        spark, dir, corpus, batch, "doc_id", "text", 0.7,
        cfg = SignatureIndex.Config(shingleN = 5))
    }
    assert(e.getMessage.contains("params"),
      s"mismatch must name the persisted params: ${e.getMessage}")
  }
}
