package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Persisted MinHash-LSH signature index — THE corpus-side artifact the
  * 100 TB refresh story needs: shingle → signature → band-key derivation
  * runs over the retained corpus ONCE (at build or ingest time), and
  * every subsequent batch admission probes the persisted banded
  * membership instead of re-deriving O(corpus) shingles per refresh.
  *
  * == Layout (shared with the streaming ingest) ==
  *
  * {{{
  * indexDir/members/{compacted=<M> | batch=<id>}/   (band, bkey, doc_id)
  * indexDir/sigs/   {compacted=<M> | batch=<id>}/   (doc_id, sig8)
  * }}}
  *
  * This is exactly the table pair [[graft.streaming.DedupStreams]]
  * maintains incrementally — the listing/epoch logic lives HERE and the
  * stream delegates to it, so a batch-built index can seed a stream and
  * a stream-built index can serve batch admission probes. A batch build
  * writes one `compacted=-1` epoch (streaming batch ids are >= 0, so
  * batch dirs stack strictly after it and the stream's own batch 0 is
  * never shadowed). Bucket-keyed membership + doc-keyed signatures,
  * both append-only, is deliberately a KV schema: the streaming trigger
  * probes it through [[InMemoryMembershipStore]] point lookups.
  *
  * Members files are range-partitioned and sorted by `bkey`, so a probe
  * that pushes a bkey predicate prunes files by footer min/max and row
  * groups by stats — the columnar approximation of the point lookup.
  *
  * == Probe semantics ==
  *
  * [[probeNearDuplicateIds]] is the index-backed spelling of
  * [[Decontamination.batchNearDuplicateIds]] and produces the IDENTICAL
  * flag set (spec-asserted): candidates come from (band, bkey) equality
  * against the persisted membership — the same collisions the recompute
  * path derives from its in-plan corpus banding, because signatures are
  * a deterministic function of text — and the refine is the same EXACT
  * shingle-Jaccard kernel ([[Dedup.jaccardForPairs]]), evaluated only on
  * the candidate corpus docs (their text is fetched by a candidate-id
  * semi-join; at 100 TB an id-bucketed corpus table makes that fetch a
  * bucket-pruned scan). The index affects WORK, never the result:
  * per-refresh cost drops from O(corpus + batch) to O(batch + hits).
  *
  * The candidate probe is one plan ([[probeCandidates]]): the batch's
  * band keys, derived in-plan, broadcast against a pruned scan of the
  * members table. Nothing batch- or hit-proportional reaches the
  * driver, so the same probe serves a refresh batch and a corpus-scale
  * one.
  *
  * Id contract: corpus and batch ids must be disjoint (the refine keys
  * shingles by id across both sides — the same contract the recompute
  * path's union frame carries).
  */
object SignatureIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Derivation parameters; must match between build and probe (and are
    * persisted alongside the index for validation). Defaults are the
    * library-wide banding (see MinHashLSH scaladoc).
    */
  final case class Config(
      shingleN: Int = 3, numPerms: Int = 128, bands: Int = 32, rowsPerBand: Int = 4) {
    MinHashLSH.requireBandsFit(numPerms, bands, rowsPerBand)
  }

  private val ParamsFile = "params.json"

  /** Persist the derivation params beside the index (first writer wins;
    * [[build]] overwrites — it also overwrites the base epoch). Probes
    * validate against this file: a banding mismatch between build and
    * probe otherwise finds zero (band, bkey) collisions and silently
    * admits every duplicate.
    */
  private[graft] def writeParams(
      fs: org.apache.hadoop.fs.FileSystem, indexDir: String, cfg: Config,
      overwrite: Boolean = false): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$ParamsFile")
    if (overwrite || !fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(
        (s"""{"shingleN":${cfg.shingleN},"numPerms":${cfg.numPerms},""" +
          s""""bands":${cfg.bands},"rowsPerBand":${cfg.rowsPerBand}}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Fail loudly when a probe's params disagree with the persisted ones.
    * A missing file (pre-params index) validates vacuously.
    */
  private[graft] def validateParams(
      spark: SparkSession, indexDir: String, cfg: Config): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$ParamsFile")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(name: String): Option[Int] =
      s""""$name":(\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    val persisted = (field("shingleN"), field("numPerms"), field("bands"), field("rowsPerBand"))
    val given = (Some(cfg.shingleN), Some(cfg.numPerms), Some(cfg.bands), Some(cfg.rowsPerBand))
    require(persisted == given,
      s"SignatureIndex at $indexDir was built with params $txt but probed with $cfg — " +
        "band keys would never collide; rebuild the index or pass the matching Config")
  }

  // ---- listing / epoch selection (shared with DedupStreams) -------------

  /** One index table's live components: the newest complete
    * `compacted=<M>` epoch, the `run=<R>` minor-fold dirs after it, and
    * the raw `batch=<id>` dirs after the newest run — the two-level
    * (LSM-style) layout that keeps BOTH the per-trigger dir count and
    * the amortized compaction work bounded: minor folds cost O(folded
    * batches), the epoch is rewritten only when the runs reach a
    * constant fraction of its size (geometric — each row is re-written
    * O(log) times over the stream's life, never O(1) rewrites of a
    * linearly growing epoch per fold window, which was the measured
    * +6% drain-slope term).
    */
  private[graft] final case class TableListing(
      epoch: Option[Long], runs: Seq[Long], batches: Seq[Long]) {
    def isEmpty: Boolean = epoch.isEmpty && runs.isEmpty && batches.isEmpty
    def dirNames: Seq[String] =
      epoch.map(e => s"compacted=$e").toSeq ++ runs.map(r => s"run=$r") ++
        batches.map(b => s"batch=$b")
  }

  /** List one index table dir. Folded dirs (`compacted=`/`run=`) must
    * carry `_SUCCESS` — a crashed fold write is invisible; a batch dir
    * whose id is covered by a fold is a crash leftover and is ignored.
    * Hadoop FileSystem API — java.nio would silently see nothing on
    * hdfs:///s3a:// paths and disable cross-batch dedup without an
    * error. Non-numeric strays are ignored rather than fatal.
    */
  private[graft] def listTable(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): TableListing = {
    if (!fs.exists(dir)) return TableListing(None, Nil, Nil)
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    def ids(prefix: String, needSuccess: Boolean): Seq[Long] = names
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
      .filter(id => !needSuccess ||
        fs.exists(new org.apache.hadoop.fs.Path(dir, s"$prefix$id/_SUCCESS")))
    val epochs = ids("compacted=", needSuccess = true)
    val m = if (epochs.nonEmpty) Some(epochs.max) else None
    val runs = ids("run=", needSuccess = true).filter(r => m.forall(r > _)).sorted
    val floor = (m.toSeq ++ runs).foldLeft(Long.MinValue)(math.max)
    TableListing(m, runs, ids("batch=", needSuccess = false).filter(_ > floor).sorted)
  }

  /** Row schemas of the two tables as a driver-side write lays them
    * down — the schemas `Seq[(Int, Long, Long)].toDF` and
    * `Seq[(Long, Seq[Long])].toDF` encode, so a component written by
    * [[writeComponent]] carries the same parquet schema and Spark row
    * metadata as one written through a DataFrame.
    */
  private[graft] val MembersSchema: StructType = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false)))
  private[graft] val SigsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sig8", ArrayType(LongType, containsNull = false))))

  /** Write `rows` as one index component dir `dir` (e.g.
    * `indexDir/members/batch=7`) from the driver: one parquet file
    * through Spark's own writer (`ParquetFileFormat.prepareWrite` →
    * `OutputWriter`, so codec, parquet schema and row metadata are a
    * DataFrame write's), with no Spark job, plan or commit protocol
    * around it — the component's rows are already on the driver.
    *
    * The file lands in a hidden sibling `.<name>.tmp-<uuid>` (readers
    * and [[listTable]] skip dot-prefixed names), gets `_SUCCESS`, and
    * only then replaces `dir`: overwrite semantics, so a replayed
    * trigger rewrites its own component exactly like
    * `write.mode("overwrite")`. A crash before the rename leaves only a
    * hidden temp dir. The next write of the same component (a replay)
    * deletes it first, and [[compact]] deletes one whose id it folds.
    * One writer per component at a time, as a trigger's replay gives.
    */
  private[graft] def writeComponent(
      spark: SparkSession, dir: String, schema: StructType,
      rows: Iterator[InternalRow]): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    val target = new Path(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val fs = target.getFileSystem(job.getConfiguration)
    val uuid = java.util.UUID.randomUUID().toString
    val tmpPrefix = s".${target.getName}.tmp-"
    val tmp = new Path(target.getParent, tmpPrefix + uuid)
    if (fs.exists(target.getParent))
      fs.listStatus(target.getParent).map(_.getPath)
        .filter(_.getName.startsWith(tmpPrefix)).foreach(fs.delete(_, true))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    try {
      val file = new Path(tmp, s"part-00000-$uuid-c000${factory.getFileExtension(ctx)}")
      val writer = factory.newInstance(file.toString, schema, ctx)
      try rows.foreach(writer.write) finally writer.close()
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
      fs.delete(target, true)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"could not rename $tmp to $target")
    } catch { case e: Throwable => scala.util.Try(fs.delete(tmp, true)); throw e }
  }

  /** Readable paths of one index table (`members` or `sigs`), newest
    * epoch + runs + live batch dirs, optionally excluding one batch id
    * (the stream's current trigger excludes its own about-to-be-
    * overwritten partition).
    */
  private[graft] def tablePaths(
      spark: SparkSession, indexDir: String, table: String,
      excludeBatch: Option[Long] = None): Seq[String] =
    componentNames(spark, indexDir, table, excludeBatch)
      .map(n => s"$indexDir/$table/$n")

  /** Component dir NAMES of one index table (the coverage unit
    * [[InMemoryMembershipStore.ensureCovers]] tracks). */
  private[graft] def componentNames(
      spark: SparkSession, indexDir: String, table: String,
      excludeBatch: Option[Long] = None): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val l = listTable(fs, dir)
    l.copy(batches = l.batches.filterNot(excludeBatch.contains)).dirNames
  }

  /** The banded membership (band, bkey, doc_id) across all epochs.
    * `excludeBatch` drops one `batch=<id>` component from the listing —
    * the as-of-before-my-own-append view a replayed refresh needs (same
    * contract as the streaming trigger, which excludes its own
    * about-to-be-overwritten partition).
    */
  def members(
      spark: SparkSession, indexDir: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    val paths = tablePaths(spark, indexDir, "members", excludeBatch)
    require(paths.nonEmpty, s"no signature index at $indexDir/members")
    spark.read.parquet(paths: _*)
  }

  /** The 1-byte-component signature table (doc_id, sig8) across all
    * epochs — b-bit minwise estimates for consumers that want a cheap
    * similarity screen (the streaming path); the exact-refine probe
    * below never reads it.
    */
  def sigs(spark: SparkSession, indexDir: String): DataFrame = {
    val paths = tablePaths(spark, indexDir, "sigs")
    require(paths.nonEmpty, s"no signature index at $indexDir/sigs")
    spark.read.parquet(paths: _*)
  }

  /** Build the index over `docs` in one batch pass: one shingle +
    * signature + band derivation, written as the `compacted=-1` base
    * epoch. `bucketCap` (default uncapped) applies the same write-side
    * lowest-id bucket admission the streaming ingest enforces — leave
    * uncapped when probe results must exactly match an uncapped
    * recompute; cap when hot-bucket cost bounds matter more than
    * unconditional recall (MinHashLSH.DefaultBucketCap scaladoc).
    */
  def build(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      cfg: Config = Config(), bucketCap: Int = Int.MaxValue): Unit = {
    val sigs = MinHashLSH
      .signatures(Dedup.charShingles(docs, idCol, textCol, cfg.shingleN), cfg.numPerms)
      .withColumn("sig8", transform(col("sig"), x => x.bitwiseAND(lit(255L))))
      .cache()
    try {
      val bandedAll = MinHashLSH.bandKeys(sigs, cfg.bands, cfg.rowsPerBand)
        .select(col("doc_id"), col("band"), col("bkey"))
      val banded =
        if (bucketCap == Int.MaxValue) bandedAll
        else {
          val w = Window.partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))
          bandedAll.withColumn("__r", row_number().over(w))
            .filter(col("__r") <= bucketCap).drop("__r")
        }
      // range-partition + sort by bkey: probe predicates prune files by
      // min/max and row groups by stats (see scaladoc). 8 files keeps the
      // per-probe footer count constant at this scale; a cluster build
      // would size this by corpus bytes.
      banded.repartitionByRange(8, col("bkey")).sortWithinPartitions(col("bkey"))
        .write.mode("overwrite").parquet(s"$indexDir/members/compacted=-1")
      // signatures only for docs reachable from the membership (under a
      // cap, a doc admitted to zero buckets can never be probed)
      val sigOut =
        if (bucketCap == Int.MaxValue) sigs.select(col("doc_id"), col("sig8"))
        else sigs.select(col("doc_id"), col("sig8")).join(
          banded.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      sigOut.coalesce(8).write.mode("overwrite").parquet(s"$indexDir/sigs/compacted=-1")
      val p = new org.apache.hadoop.fs.Path(indexDir)
      writeParams(p.getFileSystem(docs.sparkSession.sessionState.newHadoopConf()),
        indexDir, cfg, overwrite = true)
    } finally { sigs.unpersist(); () }
  }

  /** Append one refresh batch's docs to an existing index as a
    * `batch=<id>` component — the batch-refresh spelling of the
    * streaming trigger's incremental write, and the missing half of the
    * production loop: probe → admit → APPEND, so the next refresh's
    * probe sees this refresh's admissions without any corpus
    * re-derivation. Cost is O(batch): one shingle + signature + band
    * pass over `docs` only; the existing epochs are never read.
    *
    * The caller names `batchId`, which makes the write deterministic
    * and idempotent — a replay overwrites its own two dirs, so a crash
    * mid-append heals on rerun (same contract as the streaming
    * foreachBatch write at DedupStreams). `batchId` must sit strictly
    * above the newest folded component (the listing ignores batch dirs
    * a fold covers — see [[listTable]]) and is rejected loudly
    * otherwise. Appends are uncapped: write-side bucket admission needs
    * cross-epoch occupancy, which is the streaming ingest's job — a
    * capped index that takes batch appends should route them through
    * the stream.
    *
    * Sigs land before members (matching the fold ordering contract,
    * and the order a streaming trigger's driver-side [[writeComponent]]
    * calls follow): a reader that lists between the two writes may see
    * a signature whose member rows are missing, never a member without
    * its signature — the exact-refine probe ignores sigs entirely, the
    * streaming probe only fetches signatures of member hits, and it
    * treats a missing sig as a non-hit.
    */
  def append(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      batchId: Long, cfg: Config = Config()): Unit =
    appendFromSignatures(
      MinHashLSH.signatures(
        Dedup.charShingles(docs, idCol, textCol, cfg.shingleN), cfg.numPerms),
      indexDir, batchId, cfg)

  /** [[append]] from an ALREADY-DERIVED signature frame (doc_id, sig) —
    * the refresh loop's probe has just computed the batch's signatures
    * for its own admission check, and re-deriving them for the append
    * is a second full shingle + minhash pass over the batch text
    * (probe → admit → append run in the same trigger at 100 TB, so the
    * derivation is reusable by construction). Same id/floor contract,
    * write layout, and sigs-before-members ordering as [[append]];
    * callers own the guarantee that `sigs` was derived with `cfg`'s
    * banding (q133 passes the probe's own frame, so drift is
    * impossible there).
    */
  def appendFromSignatures(
      sigFrame: DataFrame, indexDir: String, batchId: Long,
      cfg: Config = Config()): Unit = {
    val spark = sigFrame.sparkSession
    validateParams(spark, indexDir, cfg)
    val membersDir = new org.apache.hadoop.fs.Path(s"$indexDir/members")
    val fs = membersDir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(membersDir),
      s"no signature index at $indexDir/members — build() or a stream must seed it first")
    val l = listTable(fs, membersDir)
    val floor = (l.epoch.toSeq ++ l.runs).foldLeft(Long.MinValue)(math.max)
    require(batchId > floor,
      s"append batchId=$batchId is at or below the newest fold floor $floor of " +
        s"$indexDir — the listing would ignore it; pick an id above every folded component")
    val sigs = sigFrame
      .withColumn("sig8", transform(col("sig"), x => x.bitwiseAND(lit(255L))))
      .cache()
    try {
      val banded = MinHashLSH.bandKeys(sigs, cfg.bands, cfg.rowsPerBand)
        .select(col("doc_id"), col("band"), col("bkey"))
      sigs.select(col("doc_id"), col("sig8"))
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/sigs/batch=$batchId")
      // bkey-sorted like the epochs, so probe predicates prune row
      // groups in appended components too; one file — a refresh batch is
      // batch-scale by definition (a corpus-scale write is a build)
      banded.repartitionByRange(1, col("bkey")).sortWithinPartitions(col("bkey"))
        .write.mode("overwrite").parquet(s"$indexDir/members/batch=$batchId")
    } finally { sigs.unpersist(); () }
  }

  /** Maximum `run=` dirs before a minor fold absorbs the existing runs
    * too — bounds the reader's dir/footer count between majors. */
  private[graft] val MaxRuns = 8

  /** Two-level size-tiered compaction (the LSM shape), shared by the
    * streaming ingest (every `compactEvery` triggers) and long-lived
    * batch-refresh indexes (call it every K appends — without folds an
    * append-per-refresh index accumulates O(refreshes) `batch=` dirs
    * and the probe's listing/footer cost grows linearly). Live
    * `batch=* <= upTo` dirs fold into a `run=<upTo>` MINOR dir (cost
    * O(folded batches)) unless the accumulated runs have reached 1/4 of
    * the epoch's bytes, at which point everything folds into a new
    * `compacted=<upTo>` epoch (MAJOR). The geometric trigger means each
    * row is epoch-rewritten O(log) times over the index's life; an
    * every-fold-is-major scheme rewrites the ENTIRE (linearly growing)
    * epoch per fold window — a measured +6% drain-slope term. Minor
    * folds absorb existing runs once [[MaxRuns]] accumulate, so the
    * reader's dir count stays bounded.
    *
    * All folds are pure concatenation (caps were enforced at write
    * time), written KEY-SORTED (sigs by doc_id, members by bkey) so
    * probe predicates prune row groups. Minor or major, a fold whose
    * source fits the driver budget ([[DriverKernel.BudgetBytes]], the
    * operators' one driver-kernel bound) runs on the driver with no
    * Spark job; a larger one rewrites through Spark ([[sortedRewrite]]).
    * Deterministic for a given `upTo`, so a replay re-running one is
    * harmless; each fold's sigs dir is written before its members dir,
    * readers require `_SUCCESS` on folded dirs, and covered batch dirs
    * are only deleted after both writes land, together with the hidden
    * temp dirs of any driver write at or below `upTo` that crashed
    * before its rename.
    */
  def compact(spark: SparkSession, indexDir: String, upTo: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val membersDir = new org.apache.hadoop.fs.Path(s"$indexDir/members")
    val sigsDir = new org.apache.hadoop.fs.Path(s"$indexDir/sigs")
    val fs = membersDir.getFileSystem(conf)
    val l = listTable(fs, membersDir)
    val foldB = l.batches.filter(_ <= upTo)
    if (foldB.isEmpty) return // already folded through upTo (e.g. a replay)
    def bytesOf(name: String): Long =
      scala.util.Try(fs.getContentSummary(
        new org.apache.hadoop.fs.Path(membersDir, name)).getLength).getOrElse(0L)
    val epochBytes = l.epoch.map(e => bytesOf(s"compacted=$e")).getOrElse(0L)
    val pendingBytes = l.runs.map(r => bytesOf(s"run=$r")).sum +
      foldB.map(b => bytesOf(s"batch=$b")).sum
    val major = l.epoch.isEmpty || pendingBytes * 4 >= epochBytes
    val mergeRuns = major || l.runs.size >= MaxRuns
    val src = TableListing(
      if (major) l.epoch else None,
      if (mergeRuns) l.runs else Nil,
      foldB)
    val target = if (major) s"compacted=$upTo" else s"run=$upTo"
    def paths(dir: String): Seq[String] = src.dirNames.map(n => s"$dir/$n")
    sortedRewrite(spark, paths(s"$indexDir/sigs"), paths(s"$indexDir/members"),
      indexDir, target)
    log.info(s"${if (major) "MAJOR" else "minor"} fold of signature index through " +
      s"batch $upTo (${foldB.size} batch dir(s)" +
      s"${if (mergeRuns && l.runs.nonEmpty) s" + ${l.runs.size} run(s)" else ""}" +
      s"${if (major) l.epoch.fold("")(e => s" + epoch $e") else ""} -> $target)")
    // cleanup is best-effort: leftovers are ignored by readers (covered
    // ids, hidden temp dirs) and retried by the next fold. Raw listing,
    // not listTable — that helper hides exactly the now-covered ids that
    // need deleting. `.<component>.tmp-*` is a [[writeComponent]] (a
    // trigger's batch=, or a driver fold's run= or compacted=) that
    // crashed before its rename.
    val Temp = """\.(?:batch|run|compacted)=(-?\d{1,18})\.tmp-.*""".r
    for (dir <- Seq(membersDir, sigsDir) if fs.exists(dir)) {
      val stale = fs.listStatus(dir).toSeq.map(_.getPath.getName).filter {
        case Temp(tmpId) => tmpId.toLong <= upTo
        case n =>
          def id(prefix: String): Option[Long] =
            if (n.startsWith(prefix))
              scala.util.Try(n.stripPrefix(prefix).toLong).toOption
            else None
          id("batch=").exists(_ <= upTo) ||
            id("run=").exists(r => if (major) r <= upTo else mergeRuns && r < upTo) ||
            (major && id("compacted=").exists(_ < upTo))
      }
      stale.foreach(n => scala.util.Try(
        fs.delete(new org.apache.hadoop.fs.Path(dir, n), true)))
    }
  }

  /** Rewrite sig and member components as one `component` of
    * `indexDir`, key-sorted so probe predicates prune row groups: sigs
    * by `doc_id`, members by `bkey`. Sigs land first (the fold ordering
    * contract). Shared by [[compact]] and [[merge]].
    *
    * The path is chosen by bytes, as the trigger kernel's is (the size
    * test of Spark's broadcast rule). A source whose parquet bytes fit
    * [[DriverKernel.BudgetBytes]] is read on the driver with Spark's own
    * parquet reader and no Spark job, and the budget is enforced again
    * on the decoded rows as they are read (a corpus-scale epoch exceeds
    * it and folds distributed). Within it, the rows are sorted in
    * memory (members by `(bkey, band, doc_id)`, so the output is
    * deterministic) and each table is written as one [[writeComponent]]
    * file. Past the budget, what was read is dropped and each table is
    * rewritten through Spark in 8 range partitions (a sampling job plus a
    * shuffle per table), its jobs described `index.fold <component>`.
    * Both paths write the same rows, key-sorted per file, in the schema
    * `spark.read.parquet` gives the source (spec-asserted).
    */
  private def sortedRewrite(
      spark: SparkSession, sigPaths: Seq[String], memberPaths: Seq[String],
      indexDir: String, component: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.graft.DriverParquet
    val conf = spark.sessionState.newHadoopConf()
    // the data files spark.read.parquet would list, in path order
    def dataFiles(paths: Seq[String]) = paths.flatMap { p =>
      val dir = new Path(p)
      dir.getFileSystem(conf).listStatus(dir).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && s.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }
    }
    val (sigFiles, memberFiles) = (dataFiles(sigPaths), dataFiles(memberPaths))
    val fits = sigFiles.nonEmpty && memberFiles.nonEmpty &&
      (sigFiles ++ memberFiles).map(_.getLen).sum <= DriverKernel.BudgetBytes
    val onDriver = if (!fits) None else {
      val (sigSchema, memberSchema) =
        (DriverParquet.schemaOf(spark, sigFiles), DriverParquet.schemaOf(spark, memberFiles))
      for {
        sigs <- DriverParquet.read(spark, sigFiles, sigSchema, DriverKernel.BudgetBytes)
        members <- DriverParquet.read(spark, memberFiles, memberSchema,
          DriverKernel.BudgetBytes - sigs.iterator.map(_.getSizeInBytes.toLong).sum)
      } yield (sigSchema, sigs, memberSchema, members)
    }
    onDriver match {
      case Some((sigSchema, sigs, memberSchema, members)) =>
        val d = sigSchema.fieldIndex("doc_id")
        java.util.Arrays.sort(sigs, Ordering.by((r: UnsafeRow) => r.getLong(d)))
        val (k, b, md) = (memberSchema.fieldIndex("bkey"), memberSchema.fieldIndex("band"),
          memberSchema.fieldIndex("doc_id"))
        java.util.Arrays.sort(members, new Ordering[UnsafeRow] {
          def compare(x: UnsafeRow, y: UnsafeRow): Int = {
            val c = java.lang.Long.compare(x.getLong(k), y.getLong(k))
            if (c != 0) c
            else if (x.getInt(b) != y.getInt(b)) Integer.compare(x.getInt(b), y.getInt(b))
            else java.lang.Long.compare(x.getLong(md), y.getLong(md))
          }
        })
        writeComponent(spark, s"$indexDir/sigs/$component", sigSchema, sigs.iterator)
        writeComponent(spark, s"$indexDir/members/$component", memberSchema, members.iterator)
      case None =>
        graft.SessionConf.withJobDescription(spark.sparkContext, s"index.fold $component") {
          spark.read.parquet(sigPaths: _*)
            .repartitionByRange(8, col("doc_id")).sortWithinPartitions(col("doc_id"))
            .write.mode("overwrite").parquet(s"$indexDir/sigs/$component")
          spark.read.parquet(memberPaths: _*)
            .repartitionByRange(8, col("bkey")).sortWithinPartitions(col("bkey"))
            .write.mode("overwrite").parquet(s"$indexDir/members/$component")
        }
    }
  }

  /** Merge shard-built indexes into one — the distributed BUILD story at
    * 100 TB: one job cannot (and should not) derive signatures over the
    * whole corpus, so each corpus shard builds its own index in parallel
    * (the O(shard) shingle+signature derivation — the expensive part),
    * and the merge is a pure byte-level union of the already-derived
    * (band, bkey, doc_id) / (doc_id, sig8) rows (orders of magnitude
    * narrower than text), re-sorted so probe pushdown prunes the merged
    * epoch exactly like a whole-built one: on the driver with no Spark
    * job when the shards fit [[DriverKernel.BudgetBytes]], otherwise one
    * range-partitioned shuffle per table ([[sortedRewrite]]). No text is
    * read, no signature recomputed.
    *
    * Contract: shard doc-id sets are disjoint (the build contract) and
    * every shard carries the same derivation params (validated). Shards
    * must be uncapped (write-side bucket admission is per-shard and
    * cannot be re-enforced globally from membership alone — same note as
    * [[append]]); the merged epoch is written as `compacted=-1`, so the
    * result accepts appends/streams exactly like a fresh [[build]].
    * Sigs land before members (the fold ordering contract).
    */
  def merge(
      spark: SparkSession, shardDirs: Seq[String], destDir: String,
      cfg: Config = Config()): Unit = {
    require(shardDirs.nonEmpty, "merge needs at least one shard index")
    shardDirs.foreach(d => validateParams(spark, d, cfg))
    val memberPaths = shardDirs.flatMap(d => tablePaths(spark, d, "members"))
    val sigPaths = shardDirs.flatMap(d => tablePaths(spark, d, "sigs"))
    require(memberPaths.nonEmpty,
      s"no signature index members under any of $shardDirs")
    sortedRewrite(spark, sigPaths, memberPaths, destDir, "compacted=-1")
    val p = new org.apache.hadoop.fs.Path(destDir)
    writeParams(p.getFileSystem(spark.sessionState.newHadoopConf()),
      destDir, cfg, overwrite = true)
    log.info(s"merged ${shardDirs.size} shard indexes -> $destDir")
  }

  /** Raw candidate (da = corpus member, db = batch doc) pairs from the
    * persisted membership: batch band keys derived in-plan (through the
    * shared MinHashLSH.bandKeys, so banding can never drift from the
    * build), broadcast against the index scan — one narrow pass over the
    * members table, no corpus re-shingling. Per-band duplicates kept;
    * the exact refine dedups after thresholding (MinHashLSH
    * .candidatePairsRaw trade).
    */
  private def probeCandidates(
      spark: SparkSession, indexDir: String, batchSigs: DataFrame,
      cfg: Config, excludeBatch: Option[Long]): DataFrame = {
    val batchBanded = MinHashLSH.bandKeys(batchSigs, cfg.bands, cfg.rowsPerBand)
      .select(col("doc_id").as("db"), col("band"), col("bkey"))
    members(spark, indexDir, excludeBatch)
      .select(col("band"), col("bkey"), col("doc_id").as("da"))
      .join(broadcast(batchBanded), Seq("band", "bkey"))
      .select(col("da"), col("db"))
  }

  /** Ids of `batch` docs whose exact shingle Jaccard against SOME
    * indexed corpus doc reaches `threshold` — the index-backed spelling
    * of [[Decontamination.batchNearDuplicateIds]] (identical flag set
    * when the index was built uncapped over the same corpus; see object
    * scaladoc). `corpus` supplies the TEXT of candidate corpus docs
    * only — it is filtered to candidate ids by a semi-join before any
    * shingle is derived.
    */
  def probeNearDuplicateIds(
      spark: SparkSession, indexDir: String,
      corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cfg: Config = Config(), excludeBatch: Option[Long] = None,
      preparedShingles: Option[DataFrame] = None,
      preparedSignatures: Option[DataFrame] = None): DataFrame = {
    validateParams(spark, indexDir, cfg)
    // one batch shingle derivation feeds the signature agg AND the
    // refine (cache-release contract: see Dedup.jaccardPairs).
    // `preparedShingles`/`preparedSignatures` let a refresh loop that
    // ALSO appends the admitted docs (q133) derive the batch's
    // shingles + signatures exactly once across probe and append —
    // they must be the frames this probe would derive itself (the
    // caller passing the probe's own cfg-derived frames makes banding
    // drift impossible).
    val batchSh = preparedShingles.getOrElse(
      Dedup.charShingles(batch, idCol, textCol, cfg.shingleN)).cache()
    val batchSigs = preparedSignatures.getOrElse(
      MinHashLSH.signatures(batchSh, cfg.numPerms))
    // cached: the candidate-id semi-join AND the refine both consume the
    // candidate pairs, and each re-derivation would re-run the batch
    // signature aggregation (the probe's dominant compute — measured
    // 5.8 s -> see PLANS.md r8 notes). Hits-scale rows.
    // Cache-release contract: see Dedup.jaccardPairs.
    val cand = probeCandidates(spark, indexDir, batchSigs, cfg, excludeBatch).cache()
    val candIds = cand.select(col("da").as(idCol)).distinct()
    // candidate corpus text only: hits-scale, not corpus-scale
    val corpusSh = Dedup.charShingles(
      corpus.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, cfg.shingleN)
    Dedup.jaccardForPairs(
      corpusSh.union(batchSh), cand.select(col("da"), col("db")),
      threshold, pairsDistinct = false)
      .select(col("db").as(idCol))
      .distinct()
  }
}
