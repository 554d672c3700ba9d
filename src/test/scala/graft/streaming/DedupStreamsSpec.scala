package graft.streaming

import graft.SparkSpec
import graft.operators.MembershipStore
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Online (incremental) near-dup dedup: the streaming ingest must drop
  * copies of already-retained documents using only the signature index
  * — never the historical text — and its result must not depend on how
  * the corpus was batched.
  */
class DedupStreamsSpec extends SparkSpec {

  import spark.implicits._

  // a corpus with exact copies, a near-copy, and unrelated docs; ids
  // spread across batches so cross-batch dedup is actually exercised
  private def corpus: DataFrame = Seq(
    1L -> "the quick brown fox jumps over the lazy dog again and again today",
    2L -> "completely different content about spark physical plans and shuffles",
    3L -> "the quick brown fox jumps over the lazy dog again and again today",
    4L -> "third unrelated document mentioning parquet statistics and pruning",
    5L -> "the quick brown fox jumps over the lazy dog again and again yesterday",
    6L -> "completely different content about spark physical plans and shuffles",
    7L -> "ab" // shorter than the shingle width: no signature, always retained
  ).toDF("doc_id", "text")

  private def runBatched(slices: Seq[Seq[Long]]): Set[Long] = {
    val root = Files.createTempDirectory("dedup_stream").toString
    val out = s"$root/out"; val idx = s"$root/index"
    slices.zipWithIndex.foreach { case (ids, i) =>
      DedupStreams.dedupBatch(
        corpus.filter(col("doc_id").isin(ids: _*)), out, idx, threshold = 0.7, batchId = i)
    }
    spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet
  }

  test("copies of retained docs are dropped across batches via the signature index alone") {
    val survivors = runBatched(Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L)))
    // 3 and 6 are exact copies of retained 1 and 2; 5 is a near-copy of 1
    // (one word differs); 7 is sub-shingle-width and passes through
    assert(survivors == Set(1L, 2L, 4L, 7L))
  }

  test("an empty micro-batch leaves the session's parquet pushdown conf untouched") {
    // the empty-batch early return is the one exit that reaches neither
    // the probe nor a write; it sets no session conf either
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val before = spark.conf.getOption(key)
    val root = Files.createTempDirectory("dedup_empty").toString
    DedupStreams.dedupBatch(
      corpus.filter(col("doc_id") < 0), s"$root/out", s"$root/index",
      threshold = 0.7, batchId = 0)
    assert(spark.conf.getOption(key) == before,
      s"conf leak: $key = ${spark.conf.getOption(key)}, expected $before")
  }

  test("survivors are independent of batching (one batch vs three)") {
    val oneBatch = runBatched(Seq(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)))
    val threeBatches = runBatched(Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L)))
    val perDoc = runBatched((1L to 7L).map(Seq(_)))
    assert(oneBatch == threeBatches && threeBatches == perDoc)
  }

  test("a replayed batch (same id) is idempotent - no duplicate survivors") {
    val root = Files.createTempDirectory("dedup_stream_replay").toString
    val out = s"$root/out"; val idx = s"$root/index"
    DedupStreams.dedupBatch(
      corpus.filter(col("doc_id") <= 2), out, idx, threshold = 0.7, batchId = 0)
    // simulate foreachBatch redelivery after a crash: same batch, same id
    DedupStreams.dedupBatch(
      corpus.filter(col("doc_id") <= 2), out, idx, threshold = 0.7, batchId = 0)
    val rows = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSeq
    assert(rows.sorted == Seq(1L, 2L), s"replay must overwrite, not append: $rows")
  }

  test("streaming ingest end-to-end drains a replay directory with dedup applied") {
    val root = Files.createTempDirectory("dedup_stream_e2e").toString
    val in = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    corpus.coalesce(1).write.json(s"$in/batch0")
    val schema = corpus.schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .json(s"$in/*")
    val q = DedupStreams.ingest(stream, s"$root/out", s"$root/index", s"$root/ckpt")
    q.awaitTermination(120000)
    val survivors = spark.read.parquet(s"$root/out")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 4L, 7L))
  }

  // fully distinct docs (disjoint token sets): no near-dups, so the index
  // grows by the whole batch every trigger — the worst case for any
  // per-trigger work that scales with index size
  private def distinctDocs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      // seeded-random words: near-zero char-shingle overlap between docs
      // (structured ids like "tok<i>x<k>" share most of their 3-grams)
      val rng = new scala.util.Random(i)
      i -> Seq.fill(30)(rng.alphanumeric.take(8).mkString).mkString(" ")
    }.toDF("doc_id", "text")

  test("per-batch shuffle work is O(batch), independent of index size") {
    val root = Files.createTempDirectory("dedup_stream_obatch").toString
    val out = s"$root/out"; val idx = s"$root/index"
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffled.addAndGet(t.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val perBatch = (0 until 24).map { i =>
        val ids = (i * 20L) until (i * 20L + 20)
        shuffled.set(0)
        DedupStreams.dedupBatch(distinctDocs(ids), out, idx, threshold = 0.7,
          batchId = i.toLong, compactEvery = 8)
        org.apache.spark.sql.graft.ListenerBusHook.drain(spark.sparkContext)
        shuffled.get()
      }
      // the old implementation re-banded + re-windowed the FULL index per
      // trigger: its shuffle grew by ~batch*bands records every batch. The
      // incremental index shuffles only batch-derived rows, so late batches
      // must not exceed early ones beyond noise. Compaction batches (8, 16)
      // legitimately shuffle nothing extra (pure concat reads), but AQE
      // variance exists — compare medians of the two halves.
      def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
      val early = median(perBatch.slice(2, 10))
      val late = median(perBatch.slice(16, 24))
      assert(late <= early * 1.5 + 100,
        s"per-batch shuffle grew with index size: early median $early, " +
          s"late median $late (per-batch: ${perBatch.mkString(", ")})")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compaction bounds the directory listing and preserves survivors") {
    // same corpus drained with and without compaction must agree exactly
    def drain(compactEvery: Int): (String, Set[Long]) = {
      val root = Files.createTempDirectory("dedup_stream_compact").toString
      (0 until 12).foreach { i =>
        val docs =
          if (i % 3 == 2) corpus.filter(col("doc_id") === (i % 7 + 1)) // re-sends: dups
          else distinctDocs(Seq(100L + i))
        DedupStreams.dedupBatch(docs, s"$root/out", s"$root/index", threshold = 0.7,
          batchId = i.toLong, compactEvery = compactEvery)
      }
      val survivors = spark.read.parquet(s"$root/out")
        .select(col("doc_id")).as[Long].collect().toSet
      (root, survivors)
    }
    val (rootC, survC) = drain(compactEvery = 4)
    val (_, survN) = drain(compactEvery = 0)
    assert(survC == survN, "compaction changed the survivor set")
    for (table <- Seq("members", "sigs")) {
      val names = new java.io.File(s"$rootC/index/$table").list().toSeq
      val batchDirs = names.filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
      assert(names.contains("compacted=7"),
        s"$table: expected epoch compacted=7 in $names")
      assert(batchDirs.forall(_ > 7),
        s"$table: folded batch dirs must be deleted, saw $names")
      assert(batchDirs.size <= 4, s"$table: listing not bounded: $names")
    }
  }

  test("size-tiered folds: minors write run= dirs, probe still hits them, major re-absorbs") {
    val root = Files.createTempDirectory("dedup_stream_tiered").toString
    val out = s"$root/out"; val idx = s"$root/index"
    var sawRun = false
    (0 until 40).foreach { i =>
      DedupStreams.dedupBatch(distinctDocs(Seq(i.toLong)), out, idx,
        threshold = 0.7, batchId = i.toLong, compactEvery = 2)
      sawRun ||= new java.io.File(s"$idx/members").list().exists(_.startsWith("run="))
    }
    assert(sawRun, "the geometric trigger never took the minor-fold path in 20 folds")
    // a duplicate of doc 0 (folded long ago, possibly sitting in a run=
    // dir right now) must still be dropped through the probe
    DedupStreams.dedupBatch(
      distinctDocs(Seq(0L)).select(lit(900L).as("doc_id"), col("text")),
      out, idx, threshold = 0.7, batchId = 40L, compactEvery = 2)
    val survivors = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet
    assert(survivors == (0L until 40L).toSet,
      s"tiered folds lost or duplicated survivors: ${survivors.size}")
    for (table <- Seq("members", "sigs")) {
      val names = new java.io.File(s"$idx/$table").list().toSeq
      assert(names.count(_.startsWith("compacted=")) == 1,
        s"$table: exactly one epoch expected: $names")
      assert(names.count(_.startsWith("run=")) <= 8, s"$table: runs unbounded: $names")
      assert(names.count(_.startsWith("batch=")) <= 3, s"$table: batches unbounded: $names")
    }
  }

  test("a replayed batch at a compaction boundary is idempotent") {
    val root = Files.createTempDirectory("dedup_stream_compact_replay").toString
    val out = s"$root/out"; val idx = s"$root/index"
    def run(i: Long): Unit = DedupStreams.dedupBatch(
      distinctDocs(Seq(i)), out, idx,
      threshold = 0.7, batchId = i, compactEvery = 4)
    (0L until 8L).foreach(run) // all distinct: every doc must survive once
    run(7L) // foreachBatch redelivery of the compaction-triggering batch
    run(4L) // and of an already-folded batch id (late duplicate delivery)
    val rows = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSeq
    assert(rows.sorted == (0L until 8L),
      s"replay across compaction must not duplicate or lose survivors: $rows")
  }

  test("driver-resident and distributed batch kernels agree across the cap boundary") {
    // a fourth batch carrying one id on two rows, a short-text row (no
    // signature, always retained), an exact copy of retained doc 4 and a
    // null-id short-text row, which the survivor filter keeps exactly as
    // an anti-join on doc_id would
    val tail = Seq(
      Some(8L) -> "a genuinely novel late arrival about broadcast joins and salting",
      Some(8L) -> "A SECOND ROW FOR THE SAME ID about skew hints and adaptive plans",
      Some(9L) -> "xy",
      Some(10L) -> "third unrelated document mentioning parquet statistics and pruning",
      None -> "zz"
    ).toDF("doc_id", "text")
    // int ids: the driver's drop filter must cast them as notDropped
    // does (14 copies retained doc 2)
    val intIds = Seq(
      11 -> "an int keyed document about sort merge joins and spill files",
      14 -> "completely different content about spark physical plans and shuffles",
      15 -> "ab"
    ).toDF("doc_id", "text")
    // under the lowered byte bound below, these two batches take the
    // distributed spelling even under the driver row cap: the first by
    // its row bytes alone (its plan estimates default 20-byte strings),
    // the second already by its plan's estimate, with no collect job
    val undercount = distinctDocs(Seq(16L, 17L)).unionByName(
      Seq(18L -> "third unrelated document mentioning parquet statistics and pruning")
        .toDF("doc_id", "text"))
    val overEstimate = distinctDocs(19L to 38L).unionByName(
      corpus.filter(col("doc_id") === 5L).select(lit(39L).as("doc_id"), col("text")))
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L))
      .map(ids => corpus.filter(col("doc_id").isin(ids: _*))) ++
      Seq(tail, intIds, undercount, overEstimate)
    val collectJobs = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("dedup.collect")).foreach(d => collectJobs.synchronized(collectJobs += d))
    }
    def drain() = {
      val root = Files.createTempDirectory("dedup_stream_paths").toString
      // only the driver kernel puts a trigger's admissions into the
      // store (its own component is never seeded within the trigger):
      // which path ran
      val store = new graft.operators.InMemoryMembershipStore
      val kernelRan = batches.zipWithIndex.map { case (b, i) =>
        DedupStreams.dedupBatch(b, s"$root/out", s"$root/index",
          threshold = 0.7, batchId = i.toLong, store = Some(store))
        store.knownPaths.contains(s"batch=$i")
      }
      // batch by batch: the int-id batch's components carry int ids
      def perBatch(dir: String, cols: Column*): DataFrame = batches.indices
        .map(i => spark.read.parquet(s"$dir/batch=$i").select(cols: _*))
        .reduce(_ unionByName _)
      val survivors = perBatch(s"$root/out", col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Option[Long], String)].collect().toSeq.sorted
      val members = perBatch(s"$root/index/members",
        col("band"), col("bkey"), col("doc_id").cast("long").as("doc_id"))
        .as[(Int, Long, Long)].collect().toSeq.sorted
      val sigs = perBatch(s"$root/index/sigs", col("doc_id").cast("long").as("doc_id"), col("sig8"))
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
      val membersDf = spark.read.parquet((0 to 2).map(i => s"$root/index/members/batch=$i"): _*)
      val sigsDf = spark.read.parquet((0 to 2).map(i => s"$root/index/sigs/batch=$i"): _*)
      // a read-back DataFrame schema is nullable throughout; the schema
      // each file was written with, nullability and containsNull
      // included, is the Spark row metadata in its parquet footer. Only
      // batches 0-2 are compared: the distributed spelling writes
      // doc_id with the input's nullability (nullable in the tail
      // batch), the driver writer's schema is fixed non-null, and both
      // read back alike.
      def written(table: String): Seq[String] = (0 to 2)
        .flatMap(i => new java.io.File(s"$root/index/$table/batch=$i").listFiles()
          .filter(_.getName.endsWith(".parquet")))
        .map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getPath), spark.sessionState.newHadoopConf()))
          try r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")
          finally r.close()
        }
      (survivors, members, sigs,
        (membersDf.schema, written("members")), (sigsDf.schema, written("sigs")), kernelRan)
    }
    spark.sparkContext.addSparkListener(listener)
    val (driver, dist) = try {
      val d = withDriverBudget(600L)(drain())
      org.apache.spark.sql.graft.ListenerBusHook.drain(spark.sparkContext)
      // every batch but the over-estimate one ran the collect job
      assert(collectJobs.toSeq == (0 to 5).map(i => s"dedup.collect batch=$i"),
        s"collect jobs under the driver cap: $collectJobs")
      // budget 0: every batch takes the distributed path
      (d, withDriverBudget(0L)(drain()))
    } finally spark.sparkContext.removeSparkListener(listener)
    val (sDriver, mDriver, gDriver, mSchemaDriver, gSchemaDriver, kDriver) = driver
    val (sDist, mDist, gDist, mSchemaDist, gSchemaDist, kDist) = dist
    assert(kDriver == Seq(true, true, true, true, true, false, false),
      s"paths taken under the driver cap: $kDriver")
    assert(kDist.forall(!_), s"paths taken under cap 0: $kDist")
    assert(sDriver == sDist, "survivor rows diverge across the kernel cap")
    assert(mDriver == mDist, "persisted members rows diverge across the kernel cap")
    assert(gDriver == gDist, "persisted sigs rows diverge across the kernel cap")
    assert(mSchemaDriver._2.size == 3 && gSchemaDriver._2.size == 3)
    assert(mSchemaDriver == mSchemaDist,
      s"members schemas diverge: $mSchemaDriver vs $mSchemaDist")
    assert(gSchemaDriver == gSchemaDist,
      s"sigs schemas diverge: $gSchemaDriver vs $gSchemaDist")
    assert(sDriver.map(_._1) ==
      (Seq(None, Some(1L), Some(2L), Some(4L), Some(7L), Some(8L), Some(8L), Some(9L),
        Some(11L), Some(15L), Some(16L), Some(17L)) ++ (19L to 38L).map(Some(_))))
    // every retained doc with a signature is in the index, once
    val indexed = Seq(1L, 2L, 4L, 8L, 11L, 16L, 17L) ++ (19L to 38L)
    assert(gDriver.map(_._1) == indexed)
    assert(mDriver.map(_._3).distinct.sorted == indexed)
  }

  test("a driver-kernel trigger runs one described Spark job and restores the description") {
    val root = Files.createTempDirectory("dedup_one_job").toString
    val store = new graft.operators.InMemoryMembershipStore
    def run(b: DataFrame, i: Long): Unit = DedupStreams.dedupBatch(
      b, s"$root/out", s"$root/index", threshold = 0.7, batchId = i, store = Some(store))
    val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("-"))
    }
    val sc = spark.sparkContext
    def jobsOf(f: => Unit): Seq[String] = {
      org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
      jobs.synchronized(jobs.clear())
      f
      org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
      jobs.synchronized(jobs.toSeq)
    }
    sc.addSparkListener(listener)
    try {
      run(corpus.filter(col("doc_id").isin(1L, 2L)), 0L)
      sc.setJobDescription("outer")
      assert(jobsOf(run(corpus.filter(col("doc_id").isin(3L, 4L)), 1L)) ==
        Seq("dedup.collect batch=1"), "a steady-state trigger must run exactly the collect job")
      assert(sc.getLocalProperty("spark.job.description") == "outer",
        "the trigger must restore the caller's job description")
      sc.setJobDescription(null)
      // an RDD-backed batch has no size estimate: distributed, no collect job
      val rddBatch = spark.createDataFrame(
        corpus.filter(col("doc_id").isin(5L, 6L, 7L)).rdd, corpus.schema)
      val distJobs = jobsOf(run(rddBatch, 2L))
      assert(distJobs.nonEmpty && !distJobs.exists(_.startsWith("dedup.collect")),
        s"a batch without a size estimate ran the collect job: $distJobs")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(spark.read.parquet(s"$root/out").select(col("doc_id")).as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 7L))
  }

  test("a survivor write that died before its rename is ignored and cleared by the replay") {
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L))
      .map(ids => corpus.filter(col("doc_id").isin(ids: _*)))
    def run(root: String, ids: Seq[Int]): Unit = ids.foreach(i => DedupStreams.dedupBatch(
      batches(i), s"$root/out", s"$root/index", threshold = 0.7, batchId = i.toLong))
    def survivors(root: String): Seq[(Long, String)] = spark.read.parquet(s"$root/out")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq.sorted
    val rootA = Files.createTempDirectory("dedup_out_clean").toString
    run(rootA, 0 to 2)
    val rootB = Files.createTempDirectory("dedup_out_crash").toString
    run(rootB, 0 to 1)
    // batch 2's survivor write died between its file and its rename
    val planted = s"$rootB/out/.batch=2.tmp-x"
    Seq(999L -> "a foreign row that no trigger retained").toDF("doc_id", "text")
      .coalesce(1).write.parquet(planted)
    assert(!spark.read.parquet(s"$rootB/out").select(col("doc_id")).as[Long]
      .collect().contains(999L), "a read of the survivors sees the temp dir")
    run(rootB, Seq(2))
    assert(survivors(rootB) == survivors(rootA), "the replay diverges from an uninterrupted run")
    assert(!new java.io.File(planted).exists(), "the replay left its dead write's temp dir")
  }

  test("a driver-written survivor component carries a DataFrame write's parquet schema and row metadata") {
    val root = Files.createTempDirectory("dedup_survivor_footer").toString
    // the drain's shape: a JSON read, every column nullable, a null id
    corpus.unionByName(Seq[(Option[Long], String)](None -> "zz").toDF("doc_id", "text"))
      .coalesce(1).write.json(s"$root/json")
    val frames = Seq(
      "local" -> corpus, // doc_id non-null
      "json" -> spark.read.schema("doc_id LONG, text STRING").json(s"$root/json"))
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
    for ((name, frame) <- frames) {
      val store = new graft.operators.InMemoryMembershipStore
      DedupStreams.dedupBatch(frame, s"$root/$name/out", s"$root/$name/index",
        threshold = 0.7, batchId = 0, store = Some(store))
      assert(store.knownPaths.contains("batch=0"),
        s"$name: the batch did not take the driver kernel")
      // 3 and 6 copy 1 and 2, 5 is a near-copy of 1
      frame.filter(DedupStreams.notDropped(Set(3L, 5L, 6L))).coalesce(1)
        .write.parquet(s"$root/$name/frame")
      val (a, b) = (footer(s"$root/$name/frame"), footer(s"$root/$name/out/batch=0"))
      assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema,
        s"$name parquet schema: ${a.getFileMetaData.getSchema} vs ${b.getFileMetaData.getSchema}")
      val key = "org.apache.spark.sql.parquet.row.metadata"
      assert(a.getFileMetaData.getKeyValueMetaData.get(key) ==
        b.getFileMetaData.getKeyValueMetaData.get(key), s"$name row metadata")
      assert(a.getBlocks.get(0).getColumns.get(0).getCodec ==
        b.getBlocks.get(0).getColumns.get(0).getCodec, s"$name codec")
      assert(new java.io.File(s"$root/$name/out/batch=0/_SUCCESS").exists, s"$name _SUCCESS")
      assert(spark.read.parquet(s"$root/$name/out/batch=0").collect().toSeq ==
        spark.read.parquet(s"$root/$name/frame").collect().toSeq, s"$name rows or row order")
    }
  }

  // live components only: after a fold the table dir mixes compacted=
  // and batch= names, which partition discovery cannot read as one
  private def liveTable(root: String, name: String): DataFrame = spark.read.parquet(
    graft.operators.SignatureIndex.tablePaths(spark, s"$root/index", name): _*)

  /** Survivors and the live index rows of the drain under `root`. */
  private def contents(root: String) = (
    spark.read.parquet(s"$root/out").select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sorted,
    liveTable(root, "members").select(col("band"), col("bkey"), col("doc_id"))
      .as[(Int, Long, Long)].collect().toSeq.sorted,
    liveTable(root, "sigs").select(col("doc_id"), col("sig8"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1))

  test("a component write that died before its rename is ignored, replayed and folded away") {
    // a driver-side component write lands its file in a hidden
    // `.batch=<id>.tmp-<uuid>` dir and renames it into place; a crash in
    // between leaves that dir behind. Plant one holding a valid parquet
    // file with a foreign row under both tables.
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L))
      .map(ids => corpus.filter(col("doc_id").isin(ids: _*))) ++
      Seq(distinctDocs(Seq(20L)), distinctDocs(Seq(21L)))
    def run(root: String, store: graft.operators.InMemoryMembershipStore, ids: Seq[Int]): Unit =
      ids.foreach(i => DedupStreams.dedupBatch(batches(i), s"$root/out", s"$root/index",
        threshold = 0.7, batchId = i.toLong, compactEvery = 4, store = Some(store)))
    val foreignId = 999L
    val foreignKey = (0, 4242424242L)

    val rootA = Files.createTempDirectory("dedup_tmp_clean").toString
    val storeA = new graft.operators.InMemoryMembershipStore
    run(rootA, storeA, 0 to 2)

    val rootB = Files.createTempDirectory("dedup_tmp_crash").toString
    val idx = s"$rootB/index"
    val storeB = new graft.operators.InMemoryMembershipStore
    run(rootB, storeB, 0 to 1)
    def plant(batch: String): Unit = {
      Seq((foreignKey._1, foreignKey._2, foreignId)).toDF("band", "bkey", "doc_id")
        .coalesce(1).write.parquet(s"$idx/members/$batch")
      Seq((foreignId, Seq.fill(128)(7L))).toDF("doc_id", "sig8")
        .coalesce(1).write.parquet(s"$idx/sigs/$batch")
    }
    plant(".batch=2.tmp-x")
    // a landed batch's leftover: no replay clears it, the fold must
    plant(".batch=1.tmp-w")
    // above the next fold's reach: must outlive it
    plant(".batch=9.tmp-y")

    val hadoopConf = spark.sessionState.newHadoopConf()
    for (table <- Seq("members", "sigs")) {
      val dir = new org.apache.hadoop.fs.Path(s"$idx/$table")
      val fs = dir.getFileSystem(hadoopConf)
      assert(graft.operators.SignatureIndex.listTable(fs, dir).dirNames ==
        Seq("batch=0", "batch=1"), s"$table listing sees the temp dir")
      assert(graft.operators.SignatureIndex.componentNames(spark, idx, table) ==
        Seq("batch=0", "batch=1"), s"$table component names see the temp dir")
      assert(!spark.read.parquet(s"$idx/$table").select(col("doc_id")).as[Long]
        .collect().contains(foreignId), s"a $table table read sees the temp dir")
    }
    val fresh = new graft.operators.InMemoryMembershipStore
    fresh.ensureCovers(spark, idx,
      graft.operators.SignatureIndex.componentNames(spark, idx, "members").toSet)
    assert(fresh.bucketMembers(Array(foreignKey)).values.forall(_.isEmpty),
      "ensureCovers seeded the temp dir's members")
    assert(fresh.memberSigs(Array(foreignId)).isEmpty,
      "ensureCovers seeded the temp dir's sigs")

    // the replay of batch 2 lands what an uninterrupted run landed and
    // clears its own leftover
    run(rootB, storeB, Seq(2))
    assert(contents(rootB) == contents(rootA), "replay over a leftover temp dir diverges")
    for (table <- Seq("members", "sigs"))
      assert(!new java.io.File(s"$idx/$table/.batch=2.tmp-x").exists,
        s"$table: the replay left its dead write's temp dir")

    // batch 4 folds batches 0..3 and deletes the leftover it covers
    run(rootA, storeA, 3 to 4)
    run(rootB, storeB, 3 to 4)
    for (table <- Seq("members", "sigs")) {
      val names = new java.io.File(s"$idx/$table").list().toSeq
      assert(names.contains("compacted=3"), s"$table: expected the fold's epoch in $names")
      assert(!names.contains(".batch=1.tmp-w"), s"$table: the fold left the covered temp dir")
      assert(names.contains(".batch=9.tmp-y"), s"$table: the fold deleted an uncovered temp dir")
    }
    assert(contents(rootB) == contents(rootA), "the fold over a leftover temp dir diverges")
  }

  test("a fold that died between its sigs and members writes is healed by the replayed trigger") {
    import graft.operators.{InMemoryMembershipStore, SignatureIndex}
    import java.nio.file.{Files, Paths}
    val batches = (0 until 10).map { i =>
      if (i % 3 == 2) corpus.filter(col("doc_id") === (i % 7 + 1)) // re-sends: dups
      else distinctDocs((100L + 10 * i) until (110L + 10 * i))
    }
    def run(root: String, store: InMemoryMembershipStore, ids: Seq[Int]): Unit =
      ids.foreach(i => DedupStreams.dedupBatch(batches(i), s"$root/out", s"$root/index",
        threshold = 0.7, batchId = i.toLong, compactEvery = 4, store = Some(store)))
    def tempDirs(idx: String): Seq[String] = for {
      t <- Seq("members", "sigs"); n <- new java.io.File(s"$idx/$t").list().toSeq
      if n.contains(".tmp-")
    } yield s"$t/$n"

    val rootA = Files.createTempDirectory("dedup_fold_clean").toString
    run(rootA, new InMemoryMembershipStore, 0 until 10)

    // the replayed trigger's fold runs on the driver, then distributed
    for (replayBudget <- Seq(graft.operators.DriverKernel.BudgetBytes, 1L)) {
      val rootB = Files.createTempDirectory("dedup_fold_crash").toString
      val idx = s"$rootB/index"
      run(rootB, new InMemoryMembershipStore, 0 until 4)
      // trigger 4 folds batches 0..3 into compacted=3 (no epoch yet: a
      // major). The crash state: its sigs write landed with _SUCCESS, its
      // members write died in its hidden temp dir, and the covered batch
      // dirs are all still there.
      val scratch = Files.createTempDirectory("dedup_fold_scratch").toString
      copyDir(idx, scratch)
      SignatureIndex.compact(spark, scratch, upTo = 3L)
      copyDir(s"$scratch/sigs/compacted=3", s"$idx/sigs/compacted=3")
      val deadTmp = Paths.get(s"$idx/members/.compacted=3.tmp-dead")
      Files.createDirectories(deadTmp)
      Files.write(deadTmp.resolve("part-00000-dead-c000.snappy.parquet"), Array[Byte](1, 2, 3))
      assert(new java.io.File(s"$idx/sigs/compacted=3/_SUCCESS").exists)
      assert(SignatureIndex.componentNames(spark, idx, "members") ==
        (0 until 4).map(b => s"batch=$b"), "the crash state lists no members fold")
      assert(tempDirs(idx) == Seq("members/.compacted=3.tmp-dead"))

      // the restarted stream (a fresh store) replays trigger 4, and with
      // it the fold
      val store = new InMemoryMembershipStore
      withDriverBudget(replayBudget)(run(rootB, store, Seq(4)))
      assert(tempDirs(idx).isEmpty, s"a temp dir survived the fold: ${tempDirs(idx)}")
      assert(SignatureIndex.componentNames(spark, idx, "members").head == "compacted=3")
      run(rootB, store, 5 until 10)
      assert(contents(rootB) == contents(rootA),
        s"survivors or live index rows diverge after a replayed fold (budget $replayBudget)")
    }
  }

  /** The parquet `doc_id` type of every file of one index table's live
    * components. */
  private def footerIdTypes(idx: String, table: String): Seq[String] =
    graft.operators.SignatureIndex.tablePaths(spark, idx, table)
      .flatMap(d => new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), spark.sessionState.newHadoopConf()))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("doc_id")).toString
        } finally r.close()
      }

  test("an int-id batch on the distributed spelling writes long ids the next kernel trigger seeds") {
    val root = Files.createTempDirectory("dedup_int_ids").toString
    val out = s"$root/out"; val idx = s"$root/index"
    val store = new graft.operators.InMemoryMembershipStore
    val intIds = Seq(
      11 -> "an int keyed document about sort merge joins and spill files",
      12 -> "completely different content about spark physical plans and shuffles"
    ).toDF("doc_id", "text")
    // budget 0: the distributed spelling, which leaves the store untouched
    withDriverBudget(0L)(DedupStreams.dedupBatch(intIds, out, idx, threshold = 0.7,
      batchId = 0, store = Some(store)))
    assert(store.knownPaths.isEmpty, "the int-id batch took the driver kernel")
    for (table <- Seq("members", "sigs")) {
      val types = footerIdTypes(idx, table)
      assert(types.nonEmpty && types.forall(_.contains("int64")),
        s"$table doc_id footers: $types")
    }
    // the kernel trigger seeds that component through the same store and
    // drops its copy of doc 11
    DedupStreams.dedupBatch(
      Seq(20L -> "an int keyed document about sort merge joins and spill files",
        21L -> "a genuinely novel late arrival about broadcast joins and salting")
        .toDF("doc_id", "text"),
      out, idx, threshold = 0.7, batchId = 1, store = Some(store))
    assert(store.knownPaths == Set("batch=0", "batch=1"), s"coverage: ${store.knownPaths}")
    // survivors keep their batch's own id type, so read batch by batch
    assert((0 to 1).flatMap(i => spark.read.parquet(s"$out/batch=$i")
      .select(col("doc_id").cast("long")).as[Long].collect()).toSet == Set(11L, 12L, 21L))
    for (table <- Seq("members", "sigs")) {
      val types = footerIdTypes(idx, table)
      assert(types.size == 2 && types.forall(_.contains("int64")),
        s"$table doc_id footers: $types")
    }
  }

  test("an over-cap trigger publishes survivors, then sigs, then members") {
    // sigs before members (SignatureIndex.append's contract): a reader
    // listing between the two writes may see sigs without members, never
    // members without sigs — a store seeding then would mark the
    // component covered and never load its sigs
    val root = java.nio.file.Paths.get(Files.createTempDirectory("dedup_write_order").toString)
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.logical.foreach {
          case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
            writes.synchronized(writes +=
              root.relativize(java.nio.file.Paths.get(c.outputPath.toUri.getPath)).toString)
          case _ =>
        }
      override def onFailure(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      withDriverBudget(0L)(DedupStreams.dedupBatch(corpus, s"$root/out", s"$root/index",
        threshold = 0.7, batchId = 0))
      org.apache.spark.sql.graft.ListenerBusHook.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.toSeq == Seq("out/batch=0", "index/sigs/batch=0", "index/members/batch=0"),
      s"write order: $writes")
  }

  test("a drain through the kernel and the over-cap spelling leaves no cache, persisted RDD or conf behind") {
    // suites share one session: start from an empty cache so any frame
    // the drain leaves persisted shows
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val confBefore = spark.conf.getAll
    for (budget <- Seq(graft.operators.DriverKernel.BudgetBytes, 0L)) {
      val root = Files.createTempDirectory("dedup_hygiene").toString
      val store = new graft.operators.InMemoryMembershipStore
      // 6 batches, folds at 2 and 4: triggers after a fold read stable
      // run=/compacted= components; a re-send of doc 1 gets dropped
      (0 until 6).foreach { i =>
        val docs =
          if (i == 5) corpus.filter(col("doc_id") === 3L)
          else distinctDocs(Seq(100L + i)).unionByName(corpus.filter(col("doc_id") === (i + 1L)))
        withDriverBudget(budget)(DedupStreams.dedupBatch(docs, s"$root/out", s"$root/index",
          threshold = 0.7, batchId = i.toLong, compactEvery = 2, store = Some(store)))
      }
      assert(store.knownPaths.nonEmpty == (budget > 0), s"budget $budget: paths taken")
      assert(spark.read.parquet(s"$root/out").select(col("doc_id")).as[Long].collect().toSet ==
        Set(1L, 2L, 4L) ++ (100L until 105L), s"budget $budget: survivors")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"budget $budget: a cached frame outlived the drain")
      assert(sc.getPersistentRDDs.keySet == rddsBefore,
        s"budget $budget: a persisted RDD outlived the drain")
      assert(spark.conf.getAll == confBefore, s"budget $budget: the drain changed the session conf")
    }
  }

  test("an over-cap trigger whose survivor write throws releases its caches and conf") {
    spark.catalog.clearCache()
    val confBefore = spark.conf.getAll
    val root = Files.createTempDirectory("dedup_overcap_throw").toString
    // an index to probe, so the member-hit and refined-pair frames are
    // non-trivial, then an output path that is a regular file: the
    // survivor write after the pair collect cannot create its dir
    withDriverBudget(0L)(DedupStreams.dedupBatch(corpus.filter(col("doc_id") <= 2L),
      s"$root/out0", s"$root/index", threshold = 0.7, batchId = 0))
    val outFile = Files.createFile(java.nio.file.Paths.get(root, "out")).toString
    intercept[Exception] {
      withDriverBudget(0L)(DedupStreams.dedupBatch(corpus.filter(col("doc_id") > 2L), outFile,
        s"$root/index", threshold = 0.7, batchId = 1))
    }
    assert(spark.sharedState.cacheManager.isEmpty, "a cached frame outlived the failed trigger")
    assert(spark.conf.getAll == confBefore, "the failed trigger changed the session conf")
  }

  test("write-time bucket admission enforces the cap") {
    val root = Files.createTempDirectory("dedup_stream_cap").toString
    val out = s"$root/out"; val idx = s"$root/index"
    // threshold > 1: nothing is ever dropped, so four identical docs (same
    // signature => same 32 buckets) all survive — but only the first two
    // may enter each bucket under cap=2
    val docs = Seq(1L, 2L, 3L, 4L)
      .map(_ -> "identical text shared by every document in this batch")
      .toDF("doc_id", "text")
    DedupStreams.dedupBatch(docs, out, idx, threshold = 1.5, batchId = 0,
      bucketCap = 2)
    val members = spark.read.parquet(s"$idx/members/batch=0")
    val perBucket = members.groupBy(col("band"), col("bkey")).count()
      .select(max(col("count"))).as[Long].head()
    assert(perBucket <= 2, s"bucket admission exceeded cap: $perBucket")
    assert(members.select(col("doc_id")).distinct().as[Long].collect().toSet
      == Set(1L, 2L), "only the cap lowest-id docs may hold bucket membership")
    // a later batch against the full buckets: the new doc is admitted
    // nowhere, but all four earlier docs plus it are retained
    DedupStreams.dedupBatch(
      Seq(5L -> "identical text shared by every document in this batch")
        .toDF("doc_id", "text"),
      out, idx, threshold = 1.5, batchId = 1, bucketCap = 2)
    val mem1 = new java.io.File(s"$idx/members/batch=1")
    val admitted1 =
      if (mem1.exists()) spark.read.parquet(s"$idx/members/batch=1").count() else 0L
    assert(admitted1 == 0, s"full buckets must admit no new members: $admitted1")
    val survivors = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("packed SWAR agreement count equals the per-component loop exactly") {
    def naive(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).count { case (x, y) => x == y }
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 200) {
      val n = 128
      val a = Array.fill(n)(rnd.nextInt(256).toLong)
      // mix of heavy agreement (near-dup case), none, and random
      val b = trial % 3 match {
        case 0 => a.clone()
        case 1 => a.map(v => (v + 1) & 255L)
        case _ => a.map(v => if (rnd.nextBoolean()) v else rnd.nextInt(256).toLong)
      }
      assert(MembershipStore.agreeCount(
        MembershipStore.packSig8(a), MembershipStore.packSig8(b)) == naive(a, b))
    }
    // the borrow-cascade case that breaks the classic (x-LO)&~x&HI zero-
    // byte trick: a zero byte directly below a 0x01 byte (x = …0100…)
    val a = Array.fill(16)(0L)
    val b = Array.tabulate(16)(i => if (i == 1) 1L else 0L) // byte 1 differs
    assert(MembershipStore.agreeCount(
      MembershipStore.packSig8(a), MembershipStore.packSig8(b)) == 15)
  }
}
