package graft.queries

import graft.{Canon, QueryDef, Tables}
import graft.Canon._
import graft.SessionConf.withConf
import graft.functions.TextFunctions
import graft.io.LocalDirs
import graft.io.LocalDirs.pidScopedScratch
import graft.operators.{Dedup, DomainCaps, LineDedup, MinHashLSH, QualityClassifier, SimHash, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LLM-data-pipeline operators over documents/embeddings (SURVEY.md §2.12,
  * Q34–Q40): dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search, text analysis.
  *
  * The exact all-pairs forms are the oracles; the LSH paths must produce
  * identical final pair sets after exact refinement (recall tuned to ~1 at
  * the declared thresholds — see MinHashLSH scaladoc).
  */
object TextQueries {

  /** Root for the run-time expected parquets below,
    * `java.io.tmpdir/graft_expected_<pid>` — JVM-scoped (dead-pid
    * siblings removed on first touch, [[LocalDirs.pidScoped]]): two
    * concurrently launched harness JVMs would otherwise overwrite each
    * other's expected parquet mid-oracle-read and corrupt the gate
    * comparison. The oracle SQL strings interpolate these vals at dump
    * time, so DuckDB reads exactly the path this JVM wrote.
    */
  private lazy val expectedRoot: String = {
    val root = LocalDirs.pidScoped(
      java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_expected_")
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** Expected-fingerprint parquet for q44b: sf-dependent, so it is written
    * by the query builder at run time (not committed like the EDI
    * fixtures) to a per-JVM path the dumped oracle SQL references. */
  lazy val FingerprintExpected: String = s"$expectedRoot/fingerprint.parquet"

  /** Expected BPE token streams for q88 (same run-time idiom as q44b). */
  lazy val BpeExpected: String = s"$expectedRoot/bpe.parquet"

  /** Expected streaming-dedup survivors for q111: the single-batch
    * reference drain (DedupStreams.dedupOnce), written by the fixture
    * stage. */
  lazy val StreamDedupExpected: String = s"$expectedRoot/stream_dedup.parquet"

  /** Once-per-dir fixture stage for the run-time expected parquets
    * (q44b/q88/q111) — the MappingQueries.ensure idiom. The reference
    * computation + write happen on the FIRST invocation for a given sf
    * dir (absorbed by the cold pass / Verify), so the benched warm path
    * carries no oracle-side work and no write side effect. Each KIND's
    * expected path is a fixed location the static oracle SQL references,
    * so the memo tracks which dir last wrote it: switching dirs within
    * one JVM (dev flows) re-writes instead of gating dir A against dir
    * B's leftover parquet.
    */
  private val expectedDirByKind = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ensureExpected(kind: String, dir: String)(write: => Unit): Unit = synchronized {
    if (!expectedDirByKind.get(kind).contains(dir)) {
      write
      expectedDirByKind.put(kind, dir)
    }
  }

  /** One-time index-build wall times, keyed `<artifact>|<dir>` — the
    * ledger that lets Bench report BUILD separately from PROBE for the
    * index-backed queries (q50/q130/q131/q133/q135/q136): the builds
    * are ingest-time costs at 100 TB, and folding them into whichever
    * pass first touches a query made solo numbers unrepresentative
    * (r8: q136 solo 18.6 s of which ~14 s was the two-shard
    * build+merge).
    */
  private[graft] val indexBuildMs =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def recordBuild[T](key: String, dir: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    indexBuildMs.put(s"$key|$dir", (System.nanoTime() - t0) / 1000000L)
    r
  }

  /** Byte sizes of the persisted ANN index artifacts this JVM built —
    * the bench ledger's index-size line. The pair that matters at
    * 100 TB is pq_codes vs ivf_assignments: the PQ code table is the
    * compressed stand-in for the raw-vector table on the scoring path
    * (q156; ~32× smaller at 1024-dim float32 / m=16).
    */
  private[graft] def indexSizeBytes(
      spark: org.apache.spark.sql.SparkSession): Map[String, Long] = {
    val entries =
      ivfIndexByDir.values.toSeq.distinct.flatMap(d => Seq(
        "ivf_assignments" -> s"$d/assignments",
        "ivf_centroids" -> s"$d/centroids")) ++
      pqIndexByDir.values.toSeq.distinct.flatMap(d => Seq(
        "pq_codes" -> s"$d/codes",
        "pq_codebooks" -> s"$d/codebooks"))
    entries.flatMap { case (label, path) =>
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(hp)) Some(label -> fs.getContentSummary(hp).getLength)
      else None
    }.toMap
  }

  private val sigIndexByKey = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Per-(kind, dir, JVM) persisted signature index for the index-backed
    * admission gates (q130/q131): built ONCE per sf dir — the cold pass /
    * Verify absorbs the one-time corpus derivation, exactly like a real
    * deployment builds the index when the corpus is admitted — and every
    * subsequent run PROBES the on-disk members table (SignatureIndex
    * scaladoc). Same pid-scoping as the expected parquets: concurrent
    * harness JVMs each build their own, dead-pid leftovers are cleaned.
    */
  private def ensureSigIndex(
      dir: String, kind: String)(corpus: => org.apache.spark.sql.DataFrame): String =
    synchronized {
      sigIndexByKey.getOrElseUpdate(s"$kind|$dir", recordBuild(s"sig_$kind", dir) {
        val path = s"${pidScopedScratch("graft_sigindex", dir)}/$kind"
        graft.operators.SignatureIndex.build(corpus, "doc_id", "text", path)
        path
      })
    }

  /** Per-(dir, JVM) MERGED signature index for q136: the corpus split
    * into two doc-id-parity shards, each shard's index built
    * independently (the parallel-build shape — at 100 TB each shard
    * build is its own job), then [[graft.operators.SignatureIndex.merge]]d.
    * Same once-per-dir contract as [[ensureSigIndex]].
    */
  private val mergedSigIndexByDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ensureMergedSigIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    synchronized {
      mergedSigIndexByDir.getOrElseUpdate(dir, recordBuild("sig_merged_shards", dir) {
        import org.apache.spark.sql.functions.col
        val root = s"${pidScopedScratch("graft_sigindex", dir)}/merged_documents"
        val a = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
        val shards = Seq(0, 1).map { p =>
          val sd = s"$root/shard=$p"
          graft.operators.SignatureIndex.build(
            a.filter(col("doc_id") % 2 === p), "doc_id", "text", sd)
          sd
        }
        graft.operators.SignatureIndex.merge(spark, shards, s"$root/merged")
        s"$root/merged"
      })
    }

  /** Expected centroid table for q135's oracle: the base IVF index's
    * frozen coarse quantizer, dumped as DOUBLE[] so DuckDB can recompute
    * the append-time argmin assignment independently (the centroids
    * themselves are pinned by q50's exact-fixture recall gate; what q135
    * gates is the incremental assignment + component read-back). */
  lazy val IvfCentroidsExpected: String = s"$expectedRoot/ivf_centroids.parquet"

  /** Per-(dir, JVM) BASE IVF index for q135 — trained once over the
    * corpus WITHOUT the append batch (vec_id % 10 == 7 held out), so the
    * append step exercises real index maintenance: frozen centroids, new
    * component, no retrain. Dumps the centroid table for the oracle.
    */
  private val ivfBaseIndexByDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ensureIvfBaseIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    synchronized {
      ivfBaseIndexByDir.getOrElseUpdate(dir, recordBuild("ivf_base", dir) {
        import org.apache.spark.sql.functions.col
        val path = s"${pidScopedScratch("graft_ivfidx", dir)}/embeddings_base"
        val base = Tables(spark, dir).embeddings.filter(col("vec_id") % 10 =!= 7)
        val m = graft.operators.IvfIndex.build(
          spark, base, "vec_id", "embedding", nLists = 16)
        graft.operators.IvfIndex.persist(m, path)
        ensureExpected("ivf_centroids", dir) {
          import spark.implicits._
          m.centroids.toSeq.toDF("cell", "cv")
            .coalesce(1).write.mode("overwrite").parquet(IvfCentroidsExpected)
        }
        path
      })
    }

  private val ivfIndexByDir = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Per-(dir, JVM) persisted IVF index over the embeddings table (same
    * once-per-dir contract as [[ensureSigIndex]]): k-means training runs
    * exactly once — every subsequent q50 run loads the cell-partitioned
    * assignments and probes them as an index scan, which is how an ANN
    * index is actually operated (train at ingest, probe at query).
    */
  private def ensureIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    synchronized {
      ivfIndexByDir.getOrElseUpdate(dir, recordBuild("ivf_full", dir) {
        val path = s"${pidScopedScratch("graft_ivfidx", dir)}/embeddings"
        val m = graft.operators.IvfIndex.build(
          spark, Tables(spark, dir).embeddings, "vec_id", "embedding", nLists = 16)
        graft.operators.IvfIndex.persist(m, path)
        // build-time nProbe calibration (IvfIndex.Params scaladoc): the
        // probe width the gates/tools use is a property OF THIS INDEX,
        // not a literal — r12's hard-coded 4 held at the calibration
        // tier and missed the 0.6 recall floor at sf0.1
        graft.operators.IvfIndex.persistParams(spark, path,
          graft.operators.IvfIndex.calibrate(spark, m))
        path
      })
    }

  /** Expected PQ code table for q156's oracle: the codes the build-time
    * encode persisted, dumped flat so DuckDB can recompute the exact
    * integer code checksum independently. The engine side re-encodes
    * LIVE from the frozen codebooks — checksum equality is the
    * determinism differential (persisted ≡ re-encode, bit for bit). */
  lazy val PqCodesExpected: String = s"$expectedRoot/pq_codes.parquet"

  /** Per-(dir, JVM) IVF-PQ layer over [[ensureIvfIndex]]: train the
    * per-subspace residual codebooks once, encode + persist the code
    * table, dump the oracle's expected copy. Returns the PQ dir.
    */
  private val pqIndexByDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ensurePqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    synchronized {
      pqIndexByDir.getOrElseUpdate(dir, recordBuild("ivf_pq", dir) {
        val ivfDir = ensureIvfIndex(spark, dir)
        val path = s"${pidScopedScratch("graft_ivfidx", dir)}/embeddings_pq"
        val m = graft.operators.IvfIndex.load(spark, ivfDir)
        val cb = graft.operators.ProductQuantization.train(
          m.assignments, m.centroids, m = 16, ks = 16)
        val codes = graft.operators.ProductQuantization.encode(
          m.assignments, m.centroids, cb)
        graft.operators.ProductQuantization.persist(codes, cb, path)
        // joint (nProbe, rerank) calibration against the persisted
        // (cell-partitioned) code table — see ProductQuantization.Params
        graft.operators.ProductQuantization.persistParams(spark, path,
          graft.operators.ProductQuantization.calibrate(spark, m, cb,
            graft.operators.ProductQuantization.loadCodes(spark, path)))
        ensureExpected("pq_codes", dir) {
          graft.operators.ProductQuantization.loadCodes(spark, path)
            .coalesce(1).write.mode("overwrite").parquet(PqCodesExpected)
        }
        path
      })
    }

  /** Memoized q88 reference merges: learned once per sf dir by the
    * sequential reference implementation (the tokenizer artifact both the
    * oracle and the engine-side encoder consume).
    */
  private val bpeMergesByDir = scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]

  /** Scale-tier doc slice (`SPARK_GRAFT_DOC_SLICE=<hex prefix>`, e.g.
    * "0" = the md5-selected 1/16 of documents): restricts the PAIR-
    * ENUMERATION queries' document set identically on BOTH sides — the
    * engine plans and the dumped DuckDB oracle texts — so their
    * quadratic oracles become host-feasible at sf1 as a sampled
    * differential (EXACT on the slice; the engine still runs its full
    * distributed machinery over it). Unset — every driver/default run —
    * means full corpus and byte-identical behavior to before. Only the
    * queries whose oracles enumerate pairs interpolate [[docRel]] /
    * filter through [[slicedDocs]]: q34b/c, q35/b, q56, q76, q103,
    * q126, q128, q133.
    */
  private val docSlice: Option[String] = sys.env.get("SPARK_GRAFT_DOC_SLICE")
  private val docRel: String = docSlice.fold("documents")(pfx =>
    s"(SELECT * FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, ${pfx.length}) = '$pfx')")
  private def slicedDocs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables(spark, dir).documents
    docSlice.fold(d)(pfx =>
      d.filter(substring(md5(col("doc_id").cast("string")), 1, pfx.length) === pfx))
  }

  /** Exact substring-dedup span oracle, shared by q102 (Direct plan) and
    * q113 (Strided plan) — the two plans must reach identical boundaries.
    * The engine's xxhash64 keys are intermediate-only, so the oracle
    * groups the raw 20-char window strings.
    */
  private val SubstringSpanOracle: String =
    """WITH w AS (
      |  SELECT doc_id, length(text) AS len, g.i AS pos, substr(text, g.i::INT, 20) AS win
      |  FROM documents, generate_series(1, 100000) g(i)
      |  WHERE g.i <= length(text) - 19
      |), freq AS (
      |  SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2
      |), sh AS (
      |  SELECT w.doc_id, w.len, w.pos FROM w JOIN freq USING (win)
      |), m AS (
      |  SELECT doc_id, len, pos,
      |         max(pos + 20) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM sh
      |), isl AS (
      |  SELECT doc_id, len, pos,
      |         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      |  FROM m
      |), seg AS (
      |  SELECT doc_id, island, max(len) AS len, min(pos) AS s, max(pos) + 20 AS e
      |  FROM isl GROUP BY doc_id, island
      |)
      |SELECT doc_id, count(*)::BIGINT AS n_islands,
      |       CAST(sum(e - s) AS BIGINT) AS removed_chars,
      |       CAST(max(len) - sum(e - s) AS BIGINT) AS remaining_chars
      |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared DuckDB shingle CTE (3-gram, set semantics). DuckDB 1.0's
    * generate_series only takes constants, hence the bound+filter form.
    */
  private lazy val shingleCte =
    s"""sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, substr(lower(text), g.i::INT, 3) AS s
      |  FROM $docRel, generate_series(1, 100000) g(i)
      |  WHERE g.i <= length(text) - 2
      |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)""".stripMargin

  /** Bitmap-popcount EXACT pair derivation for the oracle texts — emits
    * CTEs ending in `inter(da, db, i)` over a prior gram CTE `gram
    * (doc_id, s)` with set semantics.
    *
    * The naive spelling (`gram a JOIN gram b ON a.s = b.s`) pays
    * df(g)^2 on every hot gram — quadratic-in-corpus on a
    * bounded-alphabet gram space (the sf0.1 3-gram vocabulary saturates
    * at ~377 grams with median df >1000; the old q103 oracle needed
    * 92 s there and no sf1 run could finish). Prefix filtering was
    * tried and degenerates for exactly the reason the
    * PrefixFilterJoin scaladoc warns about: on a saturated vocabulary
    * even each doc's RAREST grams are hot, so the candidate join
    * re-explodes. What does scale is the same strategy the engine's own
    * exact kernel uses (Dedup's bitmap popcount path): dense gram ids,
    * one ceil(V/64)-word bitmap per doc, and a doc-pair join whose
    * per-pair cost is a few AND+popcount words instead of a gram
    * explosion — O(n^2 * V/64) total with a tiny constant, vs
    * O(V * df^2) for the gram join. `lengthBand = Some(t)` adds the
    * exact Jaccard size bound (J <= min(n_a,n_b)/max(n_a,n_b), so
    * partners outside [t*n, n/t] are pruned before any popcount);
    * containment has no such bound, so q103 passes None.
    */
  private def bitmapInter(gram: String, lengthBand: Option[Double],
      pairPred: String = "a.doc_id < b.doc_id"): String = {
    val band = lengthBand.map(t =>
      s"""
         |   AND a.n >= CAST(ceil($t * b.n) AS BIGINT)
         |   AND b.n >= CAST(ceil($t * a.n) AS BIGINT)""".stripMargin).getOrElse("")
    s"""gid AS MATERIALIZED (
       |  SELECT s, row_number() OVER (ORDER BY s) - 1 AS gi
       |  FROM (SELECT DISTINCT s FROM $gram)
       |),
       |wv AS (
       |  SELECT g.doc_id, gid.gi // 64 AS w,
       |         bit_or(CAST(1 AS UBIGINT) << CAST(gid.gi % 64 AS INT)) AS val,
       |         count(*) AS ng
       |  FROM $gram g JOIN gid USING (s) GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT d.doc_id, r.w
       |  FROM (SELECT DISTINCT doc_id FROM $gram) d,
       |       (SELECT unnest(range(0,
       |          CAST((SELECT ceil((max(gi) + 1) / 64.0) FROM gid) AS BIGINT))) AS w) r
       |),
       |bm AS MATERIALIZED (
       |  SELECT g.doc_id, list(coalesce(wv.val, 0) ORDER BY g.w) AS words,
       |         CAST(sum(coalesce(wv.ng, 0)) AS BIGINT) AS n
       |  FROM grid g LEFT JOIN wv ON wv.doc_id = g.doc_id AND wv.w = g.w
       |  GROUP BY 1
       |),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         list_sum(list_transform(list_zip(a.words, b.words),
       |           z -> bit_count(z[1] & z[2]))) AS i
       |  FROM bm a JOIN bm b ON $pairPred$band
       |)""".stripMargin
  }

  /** q124/q131 oracle: exact bipartite Jaccard admission over the
    * augmented corpus (A = documents, B = derived refresh batch at ids
    * +2000000), spelled with the same bitmap-popcount pair derivation as
    * [[jaccardOracle]] restricted to cross-corpus pairs. The flag set is
    * recall-robust by construction: every rejected batch doc has an
    * exact- or near-duplicate partner at J ~ 1 (banding collision
    * probability ~ 1), and the novel cohort tops out an order of
    * magnitude below the threshold, so no marginal-recall pair can flip
    * an admission. Threshold parameterized: q124 gates the in-plan
    * recompute at 0.5, q131/q155 the persisted-index probe at 0.7
    * ([[indexAdmission]]).
    */
  private def incrementalOracle(threshold: Double): String =
    s"""WITH bsrc AS (
       |  SELECT doc_id AS oid, text,
       |    CASE WHEN doc_id % 9 = 3 THEN 'exact'
       |         WHEN doc_id % 7 = 2 THEN 'near'
       |         WHEN doc_id % 13 = 5 THEN 'novel' END AS cohort
       |  FROM documents
       |  WHERE doc_id % 9 = 3 OR doc_id % 7 = 2 OR doc_id % 13 = 5
       |), b AS (
       |  SELECT oid + 2000000 AS doc_id, cohort,
       |    CASE cohort WHEN 'exact' THEN text
       |                WHEN 'near' THEN text || ' edited'
       |                ELSE 'fresh item ' || oid || ' unseen content' END AS text
       |  FROM bsrc
       |), u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM b
       |), ug AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, substr(lower(text), g.i::INT, 3) AS s
       |  FROM u, generate_series(1, 100000) g(i)
       |  WHERE g.i <= length(text) - 2
       |),
       |${bitmapInter("ug", lengthBand = Some(threshold),
            pairPred = "a.doc_id < 2000000 AND b.doc_id >= 2000000")},
       |flagged AS (
       |  SELECT DISTINCT x.db AS doc_id
       |  FROM inter x JOIN bm ba ON ba.doc_id = x.da JOIN bm bb ON bb.doc_id = x.db
       |  WHERE x.i * 1.0 / (ba.n + bb.n - x.i) >= $threshold
       |)
       |SELECT cohort, count(*)::BIGINT AS n_batch,
       |       count(f.doc_id)::BIGINT AS n_flagged,
       |       (count(*) - count(f.doc_id))::BIGINT AS n_admitted,
       |       CAST(coalesce(sum(b.doc_id) FILTER (WHERE f.doc_id IS NULL), 0) AS BIGINT) AS admitted_checksum
       |FROM b LEFT JOIN flagged f ON f.doc_id = b.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The admission scenario of q124, q131 and q155 (the refresh batch
    * [[incrementalOracle]] derives): `flag` returns the ids of the batch
    * docs (`doc_id`, `text`) it rejects against the corpus `a`, and the
    * result is the per-cohort rollup the oracle computes.
    */
  private def refreshAdmission(
      spark: org.apache.spark.sql.SparkSession, dir: String)(
      flag: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import spark.implicits._
    val a = Tables(spark, dir).documents.select($"doc_id", $"text")
    val cohort = when($"doc_id" % 9 === 3, lit("exact"))
      .when($"doc_id" % 7 === 2, lit("near"))
      .when($"doc_id" % 13 === 5, lit("novel"))
    val b = a.withColumn("cohort", cohort).filter($"cohort".isNotNull)
      .select(($"doc_id" + 2000000L).as("doc_id"),
        when($"cohort" === "exact", $"text")
          .when($"cohort" === "near", concat($"text", lit(" edited")))
          .otherwise(concat(lit("fresh item "), $"doc_id".cast("string"),
            lit(" unseen content"))).as("text"),
        $"cohort")
    val flagged = flag(a, b.drop("cohort")).withColumnRenamed("doc_id", "fid")
    b.join(flagged, $"doc_id" === $"fid", "left")
      .groupBy($"cohort")
      .agg(count(lit(1)).as("n_batch"),
        count($"fid").as("n_flagged"),
        (count(lit(1)) - count($"fid")).as("n_admitted"),
        coalesce(sum(when($"fid".isNull, $"doc_id")), lit(0L))
          .cast("long").as("admitted_checksum"))
      .orderBy($"cohort")
  }

  /** q131/q155 body: persisted-index batch admission — the
    * [[refreshAdmission]] scenario run through SignatureIndex: the
    * corpus' shingle/signature/band derivation is a ONE-TIME build
    * (ensureSigIndex; in production the index is written when the
    * corpus is admitted), and the refresh batch probes the on-disk
    * banded members table, so per-refresh cost is O(batch + hits)
    * instead of O(corpus + batch) — the 100 TB refresh shape.
    */
  private def indexAdmission(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    refreshAdmission(spark, dir) { (a, batch) =>
      graft.operators.SignatureIndex.probeNearDuplicateIds(
        spark, ensureSigIndex(dir, "documents")(a), a, batch, "doc_id", "text",
        threshold = 0.7)
    }

  /** Shared CTE prefix for the cluster-assignment oracles (q56, q126):
    * exact J >= 0.7 pair graph via the bitmap-popcount derivation, then
    * 24 unrolled min-label-propagation rounds (2^24 >> any component
    * diameter at the checked tiers; a longer chain fails LOUDLY with a
    * non-converged label, never silently). AS MATERIALIZED on every
    * round: each l_i references l_{i-1} twice, and an inlining planner
    * would otherwise double the plan per round — 2^k expansions. Ends
    * with [[ClusterLabelRel]](id, lbl); unlabeled docs are singletons.
    */
  private val ClusterLabelRel = "l24"
  private lazy val clusterCtes: String = {
    val k = 24
    val rounds = (1 to k).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT id, min(lbl) AS lbl FROM (
         |    SELECT id, lbl FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, l.lbl FROM edges e JOIN l${i - 1} l ON l.id = e.src
         |  ) GROUP BY id
         |)""".stripMargin
    }.mkString(",\n")
    s"""$shingleCte,
       |${bitmapInter("sh", lengthBand = Some(0.7))},
       |pairs AS (
       |  SELECT da, db
       |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
       |),
       |edges AS MATERIALIZED (SELECT da AS src, db AS dst FROM pairs
       |          UNION SELECT db, da FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM edges),
       |$rounds""".stripMargin
  }

  /** Whole-corpus PCA moment oracle (q141 single-pass, q142 shard-merge
    * — hash equality of the merge path against THIS proves shard-built
    * ≡ single-pass, the q136 discipline).
    *
    * The raw moment sum reaches ~9.1e18 at sf1 — 19 significant digits,
    * OUTSIDE the float64 round-trip envelope every emitted DECIMAL must
    * live in (SURVEY §2.14: the driver's hash canonicalization converts
    * decimals through double, so a DECIMAL above 2^53 hash-mismatches
    * even when both engines computed the identical integer — exactly
    * how r8 shipped these two rows red). So both sides emit the sum
    * split as
    * s_hi = (s - s % 1e9) / 1e9 and s_lo = s % 1e9 — the exact-decimal
    * truncating-division idiom (both Spark's and DuckDB's % truncate
    * toward zero, so the split is sign-safe), each piece < 1e10,
    * comfortably float64-exact, and s = s_hi·1e9 + s_lo recovers the
    * integer losslessly.
    */
  private val pcaMomentsOracle: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), x AS (
      |  SELECT vec_id, i - 1 AS i, CAST(floor(v[i] * 1e9) AS BIGINT) AS xi
      |  FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
      |), m2 AS (
      |  SELECT a.i AS i, b.i AS j, sum(CAST(a.xi AS HUGEINT) * b.xi) AS s
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2
      |), m1 AS (SELECT i, -1 AS j, CAST(sum(xi) AS HUGEINT) AS s FROM x GROUP BY 1)
      |SELECT i::BIGINT AS i, j::BIGINT AS j,
      |       CAST((s - (s % 1000000000)) / 1000000000 AS BIGINT) AS s_hi,
      |       CAST(s % 1000000000 AS BIGINT) AS s_lo
      |FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m1)
      |ORDER BY i, j""".stripMargin

  /** Engine-side spelling of the same float64-safe split (scaladoc on
    * [[pcaMomentsOracle]]): `s` is the DECIMAL(38,0) moment sum.
    */
  private def pcaSplitCols(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val b = lit(1000000000L)
    Seq(
      $"i".cast("long").as("i"), $"j".cast("long").as("j"),
      (($"s" - ($"s" % b)) / b).cast("long").as("s_hi"),
      ($"s" % b).cast("long").as("s_lo"))
  }

  private val jaccardOracle =
    s"""WITH $shingleCte,
       |${bitmapInter("sh", lengthBand = Some(0.7))}
       |SELECT da, db,
       |       CAST(CAST(round(i * 1.0 / (sa.n + sb.n - i), 4) AS DECIMAL(18,4)) AS DOUBLE) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
       |ORDER BY da, db""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // ---- Q34: exact dedup stats (L1) --------------------------------------
    QueryDef(
      "q34_exact_dedup",
      """WITH h AS (SELECT md5(text) AS hash, count(*) AS n FROM documents GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_groups,
        |       count(*) FILTER (WHERE n > 1)::BIGINT AS n_dup_groups,
        |       max(n)::BIGINT AS max_group_size,
        |       CAST(sum(n) AS BIGINT) AS n_docs
        |FROM h""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .groupBy(md5($"text").as("hash"))
        .agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_groups"),
          count(when($"n" > 1, 1)).as("n_dup_groups"),
          max($"n").as("max_group_size"),
          sum($"n").as("n_docs"))
    },

    // ---- Q51: exact-dedup survivor set (L1 operator form) -----------------
    QueryDef(
      "q51_dedup_survivors",
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents
        |) x WHERE rn = 1 ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Dedup.exact(Tables(spark, dir).documents, $"text", $"doc_id")
        .select($"doc_id")
        .orderBy($"doc_id")
    },

    // ---- Q34b: SimHash Hamming-distance histogram (L2 sketch) -------------
    QueryDef(
      "q34b_simhash_histogram",
      s"""WITH tok AS (
        |  SELECT DISTINCT doc_id, t.tok FROM $docRel, unnest(string_split(text, ' ')) t(tok)
        |  WHERE t.tok <> ''
        |), bits AS (
        |  SELECT doc_id, g.p::INT AS pos,
        |         ((strpos('0123456789abcdef', substr(md5(tok), (g.p::INT // 4) + 1, 1)) - 1)
        |           >> (3 - (g.p::INT % 4))) & 1 AS bit
        |  FROM tok, generate_series(0, 63) g(p)
        |), sim AS (
        |  SELECT doc_id, pos, CASE WHEN sum(2 * bit - 1) >= 0 THEN 1 ELSE 0 END AS sbit
        |  FROM bits GROUP BY doc_id, pos
        |), ham AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |         sum(CASE WHEN a.sbit <> b.sbit THEN 1 ELSE 0 END) AS h
        |  FROM sim a JOIN sim b ON a.pos = b.pos AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT h::INTEGER AS h, count(*)::BIGINT AS n_pairs
        |FROM ham GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      SimHash.hammingHistogram(slicedDocs(spark, dir), "doc_id", "text")
        .select($"h".cast("int").as("h"), $"n_pairs")
        .orderBy($"h")
    },

    // ---- Q34c: banded SimHash near-dup pairs (L2 scale path) — must equal
    // the exact Hamming pair set at distance <= 3 ----------------------------
    QueryDef(
      "q34c_simhash_banded",
      s"""WITH tok AS (
        |  SELECT DISTINCT doc_id, t.tok FROM $docRel, unnest(string_split(text, ' ')) t(tok)
        |  WHERE t.tok <> ''
        |), bits AS (
        |  SELECT doc_id, g.p::INT AS pos,
        |         ((strpos('0123456789abcdef', substr(md5(tok), (g.p::INT // 4) + 1, 1)) - 1)
        |           >> (3 - (g.p::INT % 4))) & 1 AS bit
        |  FROM tok, generate_series(0, 63) g(p)
        |), sim AS (
        |  SELECT doc_id, pos, CASE WHEN sum(2 * bit - 1) >= 0 THEN 1 ELSE 0 END AS sbit
        |  FROM bits GROUP BY doc_id, pos
        |)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |       sum(CASE WHEN a.sbit <> b.sbit THEN 1 ELSE 0 END)::BIGINT AS h
        |FROM sim a JOIN sim b ON a.pos = b.pos AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING h <= 3
        |ORDER BY da, db""",
    ) { (spark, dir) =>
      import spark.implicits._
      SimHash.nearDuplicates(slicedDocs(spark, dir), "doc_id", "text", maxDist = 3)
        .select($"da", $"db", $"h".cast("long").as("h"))
        .orderBy($"da", $"db")
    },

    // ---- Q35: exact n-gram Jaccard near-dup pairs (L2 oracle) -------------
    QueryDef("q35_jaccard_pairs", jaccardOracle) { (spark, dir) =>
      import spark.implicits._
      val sh = Dedup.charShingles(slicedDocs(spark, dir), "doc_id", "text")
      Dedup.jaccardPairs(sh, 0.7)
        .select($"da", $"db", dec($"jaccard", 4).as("jaccard"))
        .orderBy($"da", $"db")
    },

    // ---- Q35b: MinHash-LSH path — must equal the exact pair set -----------
    QueryDef("q35b_minhash_lsh", jaccardOracle) { (spark, dir) =>
      import spark.implicits._
      val sh = Dedup.charShingles(slicedDocs(spark, dir), "doc_id", "text")
      MinHashLSH.nearDuplicatePairs(sh, threshold = 0.7)
        .select($"da", $"db", dec($"jaccard", 4).as("jaccard"))
        .orderBy($"da", $"db")
    },

    // ---- Q36: exact cosine top-5 for probe set (L3) -----------------------
    QueryDef(
      "q36_cosine_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |         round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), r AS (
        |  SELECT qid, cid, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM p
        |)
        |SELECT qid, rn, cid, CAST(CAST(cos AS DECIMAL(18,4)) AS DOUBLE) AS cos
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""",
    ) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
      SimilaritySearch.topK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
        .select($"qid", $"rn", $"cid", out($"cos".cast(DecimalType(18, 4))).as("cos"))
        .orderBy($"qid", $"rn")
    },

    // ---- Q36b: embedding-cosine near-dup pairs ----------------------------
    QueryDef(
      "q36b_cosine_neardup",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)
        |SELECT a.vec_id AS ka, b.vec_id AS kb,
        |       CAST(CAST(round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS DECIMAL(18,4)) AS DOUBLE) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.45
        |ORDER BY ka, kb""",
    ) { (spark, dir) =>
      import spark.implicits._
      SimilaritySearch.nearDuplicates(Tables(spark, dir).embeddings, "vec_id", "embedding", 0.45)
        .select($"ka", $"kb", out($"cos".cast(DecimalType(18, 4))).as("cos"))
        .orderBy($"ka", $"kb")
    },

    // ---- Q37: token frequency (L4) ----------------------------------------
    QueryDef(
      "q37_token_frequency",
      """WITH tok AS (
        |  SELECT t.tok FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> ''
        |)
        |SELECT tok, count(*)::BIGINT AS n FROM tok GROUP BY tok HAVING count(*) >= 3
        |ORDER BY n DESC, tok LIMIT 50""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select(explode(TextFunctions.alphaTokens($"text")).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= 3)
        .orderBy($"n".desc, $"tok")
        .limit(50)
    },

    // ---- Q37b: per-language quality stats (L4) ----------------------------
    QueryDef(
      "q37b_text_quality",
      """WITH per_doc AS (
        |  SELECT d.doc_id, d.lang,
        |         count(*) AS n_tok,
        |         sum(CASE WHEN t.tok IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) AS n_stop,
        |         avg(length(t.tok)) AS avg_len
        |  FROM documents d, unnest(string_split(d.text, ' ')) t(tok)
        |  WHERE t.tok <> ''
        |  GROUP BY 1, 2
        |)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       CAST(CAST(round(CAST(avg(n_tok) AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS avg_tokens,
        |       CAST(CAST(round(avg(n_stop * 1.0 / n_tok), 4) AS DECIMAL(18,4)) AS DOUBLE) AS stopword_ratio,
        |       CAST(CAST(round(CAST(avg(avg_len) AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS avg_token_len
        |FROM per_doc GROUP BY lang ORDER BY lang""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"lang",
          TextFunctions.tokenCount($"text").as("n_tok"),
          size(filter(TextFunctions.tokens($"text"),
            t => t.isin(TextFunctions.DefaultStopwords: _*))).as("n_stop"),
          TextFunctions.avgTokenLength($"text").as("avg_len"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          avg2($"n_tok").as("avg_tokens"),
          dec(avg($"n_stop" * lit(1.0) / $"n_tok"), 4).as("stopword_ratio"),
          avg2($"avg_len").as("avg_token_len"))
        .orderBy($"lang")
    },

    // ---- Q38: corpus stats per (lang, source) (L4) ------------------------
    QueryDef(
      "q38_lang_source_stats",
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |       CAST(CAST(round(CAST(avg(n_chars) AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS avg_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"), avg2($"n_chars").as("avg_chars"),
          max($"n_chars").as("max_chars"))
        .orderBy($"lang", $"source")
    },

    // ---- Q39: corpus manifest (L5 counts-only analog) ---------------------
    QueryDef(
      "q39_manifest",
      """SELECT count(*)::BIGINT AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       count(DISTINCT md5(text))::BIGINT AS distinct_hashes
        |FROM documents""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length($"text")).cast("long").as("total_chars"),
          countDistinct(md5($"text")).as("distinct_hashes"))
    },

    // ---- Q40: normalize pipeline -> distinct tokens per lang (L6) ---------
    QueryDef(
      "q40_normalize_distinct",
      """WITH tok AS (
        |  SELECT DISTINCT d.lang, t.tok
        |  FROM documents d, unnest(string_split_regex(lower(d.text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> '' AND t.tok NOT IN ('the','a','of','and','to','in')
        |)
        |SELECT lang, count(*)::BIGINT AS n_distinct_tokens FROM tok GROUP BY lang ORDER BY lang""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"lang", explode(TextFunctions.normalizedTokens($"text")).as("tok"))
        .groupBy($"lang")
        .agg(countDistinct($"tok").as("n_distinct_tokens"))
        .orderBy($"lang")
    },

    // ---- L3 scale path: IVF approximate top-k with a driver-visible
    // recall gate. IVF itself can't run in DuckDB (and is legitimately
    // approximate), so the gated result is a summary row: the exact
    // brute-force top-5 is recomputed live by BOTH engines and checked
    // against the committed ground-truth fixture (a real differential on
    // the exact path — same machinery q36 gates), and the live IVF result
    // is scored against the live exact top-k for a recall@5 >= 0.6 flag.
    // A recall regression (or exact-path drift) flips an INT column and
    // fails the hash gate; the oracle's recall flag is the constant the
    // Spark side must earn. ------------------------------------------------
    QueryDef(
      "q50_ann_ivf",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
         |p AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM p
         |), ex AS (SELECT qid, cid FROM r WHERE rn <= 5),
         |gt AS (
         |  SELECT qid, cid
         |  FROM read_parquet('${graft.fixtures.ClaimFixtures.ExpectedDir}/ann_exact_topk.parquet/*.parquet')
         |)
         |SELECT CAST((SELECT count(DISTINCT qid) FROM ex) AS BIGINT) AS n_probes,
         |       CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact_pairs,
         |       CAST((SELECT count(*) FROM ex JOIN gt USING (qid, cid)) = (SELECT count(*) FROM ex)
         |            AND (SELECT count(*) FROM gt) = (SELECT count(*) FROM ex) AS INT) AS exact_matches_fixture,
         |       1 AS recall_ge_060""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      graft.fixtures.AnnFixtures.ensure(spark)
      val e = Tables(spark, dir).embeddings
      val exact = graft.operators.SimilaritySearch
        .topK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
        .select($"qid", $"cid").cache()
      // persisted index: trained once per dir (ensureIvfIndex), probed
      // here as a cell-partitioned scan — no k-means job in this plan.
      // nProbe comes from the index's build-time calibration, not a
      // literal (IvfIndex.Params scaladoc)
      val idxDir = ensureIvfIndex(spark, dir)
      val m = graft.operators.IvfIndex.load(spark, idxDir)
      val np = graft.operators.IvfIndex.loadParams(spark, idxDir)
        .map(_.nProbe).getOrElse(4)
      val ivf = graft.operators.IvfIndex.topK(spark, m, (0L until 10L).toSeq, k = 5, nProbe = np)
        .select($"qid", $"cid")
      val gt = spark.read.parquet(graft.fixtures.AnnFixtures.Path).select($"qid", $"cid")
      val nProbes = exact.select($"qid").distinct().count()
      val nExact = exact.count()
      val fixtureAgrees = exact.exceptAll(gt).isEmpty && gt.exceptAll(exact).isEmpty
      val hits = exact.join(ivf, Seq("qid", "cid")).count()
      Seq((nProbes, nExact,
        if (fixtureAgrees) 1 else 0,
        if (hits.toDouble / nExact >= 0.6) 1 else 0))
        .toDF("n_probes", "n_exact_pairs", "exact_matches_fixture", "recall_ge_060")
    },

    // ---- q44: language-id + quality score, hash-gated (both heuristics are
    // pure arithmetic/regex over the text, expressible in DuckDB SQL) --------
    QueryDef(
      "q44_text_enrichment",
      {
        val profiles = Map(
          "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "),
          "de" -> Seq("er ", " de", "der", "ie ", " di", "die", "ein", "ich", "sch", "und"),
          "fr" -> Seq(" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "que", "ion"),
          "es" -> Seq(" de", "de ", " la", "la ", "el ", " el", "os ", "ión", "ent", "que"),
          "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
        )
        val scoreRows = profiles.toSeq.sortBy(_._1).map { case (langCode, grams) =>
          val terms = grams
            .map(g => s"(CASE WHEN contains(lower(text), '$g') THEN 1 ELSE 0 END)")
            .mkString(" + ")
          s"SELECT doc_id, '$langCode' AS lc, $terms AS score FROM documents"
        }.mkString("\n  UNION ALL ")
        s"""WITH scores AS (
           |  $scoreRows
           |), lid AS (
           |  SELECT doc_id, lc,
           |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lc DESC) AS rn
           |  FROM scores
           |), q AS (
           |  SELECT doc_id,
           |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
           |         len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS nd,
           |         CASE WHEN length(text) > 0
           |              THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) * 1.0 / length(text)
           |              ELSE 0.0 END AS ar
           |  FROM documents
           |)
           |SELECT d.doc_id, d.lang, lid.lc AS lang_guess,
           |       CAST(round(CAST((CASE WHEN q.n BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.2 END)
           |             * (0.5 + 0.5 * (CASE WHEN q.n > 0 THEN q.nd * 1.0 / q.n ELSE 0.0 END))
           |             * q.ar AS DECIMAL(18,10)), 4) AS DOUBLE) AS quality
           |FROM documents d
           |JOIN lid ON lid.doc_id = d.doc_id AND lid.rn = 1
           |JOIN q ON q.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin
      },
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"doc_id", $"lang",
          TextFunctions.languageId($"text").as("lang_guess"),
          TextFunctions.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    },

    // ---- q44b: xxhash64 rolling fingerprint. DuckDB has no xxhash64, so
    // the oracle reads an expected parquet computed by an INDEPENDENT
    // plain-Scala XXH64 (graft.fixtures.XxHash64Ref, public spec) over the
    // same documents — written by the once-per-dir fixture stage
    // (ensureExpected), so the benched body carries no write side effect.
    QueryDef(
      "q44b_fingerprint",
      s"SELECT doc_id, fingerprint FROM read_parquet('$FingerprintExpected/*.parquet') ORDER BY doc_id",
    ) { (spark, dir) =>
      import spark.implicits._
      ensureExpected("fingerprint", dir) {
        Tables(spark, dir).documents.select($"doc_id", $"text").as[(Long, String)]
          .mapPartitions(_.map { case (id, t) => (id, graft.fixtures.XxHash64Ref.fingerprint(t)) })
          .toDF("doc_id", "fingerprint")
          .coalesce(1).write.mode("overwrite").parquet(FingerprintExpected)
      }
      Tables(spark, dir).documents
        .select($"doc_id", TextFunctions.fingerprint($"text").as("fingerprint"))
        .orderBy($"doc_id")
    },

    // ---- q44c: BPE-ish pre-tokenizer count, differential across two
    // regex engines (Spark regexp_count = Java regex, oracle
    // regexp_extract_all = RE2) running the same lookahead-free pattern.
    QueryDef(
      "q44c_bpe_tokens",
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '${TextFunctions.BpeTokenPattern.replace("'", "''")}'))::INT AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"doc_id", TextFunctions.bpeTokenCount($"text").as("n_bpe"))
        .orderBy($"doc_id")
    },

    // ---- q56: near-dup clusters (L2 completion) — connected components
    // over the exact Jaccard pair graph; every doc gets the min doc_id of
    // its component (singletons cluster to themselves). Oracle = the same
    // pair set (prefix-filtered derivation, exact) closed transitively by
    // UNROLLED min-label propagation: K chained CTE rounds, each
    // propagating min(label) across edges — K*(|V|+|E|) work, no
    // recursion. The original recursive-reach spelling enumerates
    // (node, ancestor-label) PATHS and DNF'd at sf0.1 (34 min / 79 GB of
    // spill); this one is linear and scale-valid. Exact whenever every
    // node is within K hops of its component's minimum (near-dup
    // components are dense clique-like groups, diameter ~2-4; a deeper
    // chain-shaped component would make the gate fail LOUDLY, never pass
    // silently).
    QueryDef(
      "q56_neardup_clusters",
      s"""WITH $clusterCtes
         |SELECT d.doc_id, COALESCE($ClusterLabelRel.lbl, d.doc_id) AS cluster_id
         |FROM $docRel d LEFT JOIN $ClusterLabelRel ON d.doc_id = $ClusterLabelRel.id
         |ORDER BY d.doc_id""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = slicedDocs(spark, dir)
      val pairs = Dedup.jaccardPairs(Dedup.charShingles(docs, "doc_id", "text"), 0.7)
      val cl = Dedup.clusters(pairs)
      docs.select($"doc_id")
        .join(cl.withColumnRenamed("cluster_id", "__cl"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"__cl", $"doc_id").as("cluster_id"))
        .orderBy($"doc_id")
    },

    // ---- q61: context-window packing (the LLM sample-packing step) —
    // documents are concatenated in doc_id order and the whitespace-token
    // stream is cut into 2048-token windows. The Spark side runs the
    // DISTRIBUTED prefix sum (SequencePacking: range partition + local
    // cumsum + metadata-scale offsets) while the oracle is the naive
    // single-window formulation, so the gate proves the scale-shaped plan
    // computes exactly the textbook answer. --------------------------------
    QueryDef(
      "q61_context_pack",
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tokens,
        |         CAST(sum(tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - tokens AS before
        |  FROM t
        |)
        |SELECT before // 2048 AS chunk_id, count(*)::BIGINT AS n_docs,
        |       CAST(sum(tokens) AS BIGINT) AS sum_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val weighted = Tables(spark, dir).documents
        .select($"doc_id", TextFunctions.tokenCount($"text").cast("long").as("tokens"))
      graft.operators.SequencePacking
        .withChunkIds(weighted, "doc_id", $"tokens", 2048)
        .groupBy($"chunk_id")
        .agg(count(lit(1)).as("n_docs"),
          sum($"tokens").cast("long").as("sum_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"chunk_id")
    },

    // ---- q62: deterministic train/val/test split + per-split stats —
    // hash-based splitting (md5 of the id, threshold on the hex prefix)
    // is the training-pipeline idiom for splits that are stable across
    // runs, engines, and re-shards: no RNG, no sampling nondeterminism,
    // and both engines compute the identical assignment. ~80/10/10. ---------
    QueryDef(
      "q62_hash_split",
      """WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS split,
        |         lang, length(text) AS chars
        |  FROM documents
        |)
        |SELECT split, lang, count(*)::BIGINT AS n_docs,
        |       CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val h = substring(md5($"doc_id".cast("string")), 1, 2)
      val split = when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
      Tables(spark, dir).documents
        .groupBy(split.as("split"), $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).cast("long").as("sum_chars"))
        .orderBy($"split", $"lang")
    },

    // ---- q63: the composed training-data pipeline, end to end in ONE
    // declarative plan — quality filter (integer predicates: >= 10 tokens,
    // >= 1 stopword) -> exact dedup (min-id survivor per content hash) ->
    // context packing (1024-token windows via the distributed prefix sum)
    // -> per-chunk stats incl. the deterministic train-split count. The
    // oracle recomputes every stage in SQL, so the whole composition is
    // hash-gated, not just its pieces. -------------------------------------
    QueryDef(
      "q63_training_pipeline",
      """WITH stats AS (
        |  SELECT d.doc_id, d.text, count(*) AS tokens,
        |         sum(CASE WHEN t.tok IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) AS n_stop
        |  FROM documents d, unnest(string_split(d.text, ' ')) t(tok)
        |  WHERE t.tok <> ''
        |  GROUP BY 1, 2
        |), kept AS (
        |  SELECT * FROM stats WHERE tokens >= 10 AND n_stop >= 1
        |), surv AS (
        |  SELECT min(doc_id) AS doc_id, min(tokens) AS tokens FROM kept GROUP BY text
        |), c AS (
        |  SELECT doc_id, tokens,
        |         CAST(sum(tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - tokens AS before
        |  FROM surv
        |)
        |SELECT before // 1024 AS chunk_id, count(*)::BIGINT AS n_docs,
        |       CAST(sum(tokens) AS BIGINT) AS sum_tokens,
        |       CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_train
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val enriched = Tables(spark, dir).documents
        .select($"doc_id", $"text",
          TextFunctions.tokenCount($"text").cast("long").as("tokens"),
          size(filter(TextFunctions.tokens($"text"),
            t => t.isin(TextFunctions.DefaultStopwords: _*))).as("n_stop"))
      val kept = enriched.filter($"tokens" >= 10 && $"n_stop" >= 1)
      val survivors = Dedup.exact(kept, $"text", $"doc_id").select($"doc_id", $"tokens")
      graft.operators.SequencePacking
        .withChunkIds(survivors, "doc_id", $"tokens", 1024)
        .withColumn("is_train",
          (substring(md5($"doc_id".cast("string")), 1, 2) < "cc").cast("int"))
        .groupBy($"chunk_id")
        .agg(count(lit(1)).as("n_docs"),
          sum($"tokens").cast("long").as("sum_tokens"),
          sum($"is_train").cast("long").as("n_train"))
        .orderBy($"chunk_id")
    },

    // ---- q64: stratified sampling with exact per-stratum quotas — take
    // exactly ceil(10%) of each language by deterministic md5 rank. The
    // complement of q62: thresholding gives each row an independent
    // (binomial-sized) chance, rank-based quotas hit the target count
    // exactly — the downsampling idiom when mixture proportions must be
    // precise. Window top-k per group, no RNG, engine-portable. -------------
    QueryDef(
      "q64_stratified_sample",
      """WITH ranked AS (
        |  SELECT doc_id, lang, length(text) AS chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM documents
        |), sampled AS (
        |  SELECT * FROM ranked WHERE rn <= CAST(ceil(n_lang * 0.1) AS BIGINT)
        |)
        |SELECT lang, count(*)::BIGINT AS n_sampled,
        |       CAST(min(n_lang) AS BIGINT) AS n_total,
        |       CAST(sum(chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      val wAll = Window.partitionBy($"lang")
      Tables(spark, dir).documents
        .select($"doc_id", $"lang", length($"text").as("chars"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_lang", count(lit(1)).over(wAll))
        .filter($"rn" <= ceil($"n_lang" * 0.1).cast("long"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"),
          min($"n_lang").cast("long").as("n_total"),
          sum($"chars").cast("long").as("sum_chars"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"lang")
    },

    // ---- q67: repetition quality signals (Gopher §A1.1) — per-language
    // duplicate-2-gram fraction and top-2-gram share, the standard "is this
    // document self-repeating boilerplate" pretraining filters. The gram
    // multiplicities are PER-DOCUMENT statistics, so they never need the
    // wire: WordNgramStats computes (n, distinct, max) in one row-local
    // pass, leaving only the narrow per-language rollup to shuffle — vs
    // the explode + groupBy(doc,gram) + groupBy(doc) spelling, which
    // shuffles every gram occurrence twice (measured 3.5 s -> sub-second
    // at sf0.1). The oracle recomputes the explode form independently. ------
    QueryDef(
      "q67_repetition_signals",
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS gram
        |  FROM tok WHERE len(ts) >= 2
        |), pc AS (
        |  SELECT doc_id, lang, gram, count(*) AS c FROM g GROUP BY 1, 2, 3
        |), pd AS (
        |  SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n, count(*) AS nd, max(c) AS mx
        |  FROM pc GROUP BY 1, 2
        |)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       CAST(CAST(round(avg(1 - nd * 1.0 / n), 4) AS DECIMAL(18,4)) AS DOUBLE) AS dup_2gram_frac,
        |       CAST(CAST(round(avg(mx * 1.0 / n), 4) AS DECIMAL(18,4)) AS DOUBLE) AS top_2gram_share,
        |       CAST(max(mx) AS BIGINT) AS max_repeat
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"lang", TextFunctions.wordNgramStats($"text", 2).as("st"))
        .filter($"st.n_grams" > 0) // <2-token docs: no grams, excluded (oracle: len(ts) >= 2)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          dec(avg(lit(1) - $"st.n_distinct" * lit(1.0) / $"st.n_grams"), 4).as("dup_2gram_frac"),
          dec(avg($"st.max_count" * lit(1.0) / $"st.n_grams"), 4).as("top_2gram_share"),
          max($"st.max_count").cast("long").as("max_repeat"))
        .orderBy($"lang")
    },

    // ---- q68: benchmark decontamination (GPT-3 appendix C) — flag training
    // docs sharing any word 4-gram with the "benchmark" slice (doc_id % 11,
    // a stand-in eval corpus). The eval gram set is metadata-scale and
    // broadcast; the corpus side is a narrow explode + broadcast semi join,
    // so nothing shuffles the 100 TB side. ----------------------------------
    QueryDef(
      "q68_decontamination",
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ts) - 2),
        |                i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3])) AS gram
        |  FROM tok WHERE len(ts) >= 4
        |), ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 11 = 0),
        |cont AS (
        |  SELECT DISTINCT g.doc_id, g.lang
        |  FROM g JOIN ev USING (gram) WHERE g.doc_id % 11 <> 0
        |)
        |SELECT lang, count(*)::BIGINT AS n_contaminated,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM cont GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val ids = graft.operators.Decontamination
        .contaminatedIds(docs, "doc_id", "text", $"doc_id" % 11 === 0, n = 4)
      docs.join(ids, Seq("doc_id"), "left_semi")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_contaminated"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"lang")
    },

    // ---- q69: PII scrubbing — deterministic synthetic PII is injected by
    // BOTH engines (emails/IPs/phones derived from doc_id; the corpus has
    // none), then detection counts and the redacted-text md5 are hash-gated.
    // Same Java-regex-vs-RE2 differential as q44c: the patterns are
    // lookahead-free so the identical pattern string runs on both engines.
    // Row-local, codegen'd — scales as a narrow map. -------------------------
    QueryDef(
      "q69_pii_scrub",
      s"""WITH aug AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 1 THEN ' node 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
         |    || CASE WHEN doc_id % 5 = 2 THEN ' tel 555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '${TextFunctions.EmailPattern}'))::INT AS n_email,
         |       len(regexp_extract_all(t, '${TextFunctions.Ipv4Pattern}'))::INT AS n_ip,
         |       len(regexp_extract_all(t, '${TextFunctions.PhonePattern}'))::INT AS n_phone,
         |       md5(regexp_replace(regexp_replace(regexp_replace(t,
         |         '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
         |         '${TextFunctions.Ipv4Pattern}', '<IP>', 'g'),
         |         '${TextFunctions.PhonePattern}', '<PHONE>', 'g')) AS scrub_hash
         |FROM aug ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val id = $"doc_id"
      val aug = concat(
        $"text",
        when(id % 3 === 0,
          concat(lit(" contact user"), id.cast("string"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(id % 4 === 1,
          concat(lit(" node 10."), (id % 200).cast("string"), lit(".0."),
            (id % 250).cast("string")))
          .otherwise(lit("")),
        when(id % 5 === 2,
          concat(lit(" tel 555-"), lpad((id * 7 % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables(spark, dir).documents
        .select(id, aug.as("t"))
        .select(id,
          regexp_count($"t", lit(TextFunctions.EmailPattern)).cast("int").as("n_email"),
          regexp_count($"t", lit(TextFunctions.Ipv4Pattern)).cast("int").as("n_ip"),
          regexp_count($"t", lit(TextFunctions.PhonePattern)).cast("int").as("n_phone"),
          md5(TextFunctions.scrubPii($"t")).as("scrub_hash"))
        .orderBy(id)
    },

    // ---- q70: BM25 keyword retrieval — top-10 docs per head term. Corpus
    // stats are one 2-scalar aggregate; the term set is metadata-scale and
    // pushed into a pre-shuffle isin filter, so scoring never shuffles the
    // full token stream (Bm25 scaladoc). Both engines rank on the UNROUNDED
    // double score with a doc_id tie-break. --------------------------------
    QueryDef(
      "q70_bm25",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(ts) AS tok, len(ts) AS dl FROM tok
        |), terms AS (
        |  SELECT tok FROM t GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 5
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl FROM tok
        |), tf AS (
        |  SELECT t.tok AS term, doc_id, count(*)::DOUBLE AS tf, min(dl)::DOUBLE AS dl
        |  FROM t JOIN terms ON t.tok = terms.tok GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.term, tf.doc_id,
        |         ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS score
        |  FROM tf CROSS JOIN stats JOIN df ON tf.term = df.term
        |)
        |SELECT term, row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rnk,
        |       doc_id, CAST(CAST(round(score, 4) AS DECIMAL(18,4)) AS DOUBLE) AS score
        |FROM scored QUALIFY rnk <= 10 ORDER BY term, rnk""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val terms = graft.operators.Bm25.topTerms(docs, "text", 5)
      graft.operators.Bm25.topK(docs, "doc_id", "text", terms, 10)
        .select($"term", $"rnk", $"doc_id", dec($"score", 4).as("score"))
        .orderBy($"term", $"rnk")
    },

    // ---- q71: int8 scalar quantization of the embedding corpus — per-label
    // reconstruction-quality summary (MSE ppm, cosine, exact code checksum).
    // Row-local quantize/reconstruct/score, one narrow rollup; floor(x/s+0.5)
    // because floor's half-case is engine-identical where round()'s is not
    // (Quantization scaladoc). ---------------------------------------------
    QueryDef(
      "q71_int8_quant",
      """WITH q AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings
        |), r AS (
        |  SELECT vec_id, label, v, s,
        |         list_transform(v, x -> floor(x / s + 0.5) * s) AS rec,
        |         list_transform(v, x -> floor(x / s + 0.5)) AS qv
        |  FROM q WHERE s > 0
        |), m AS (
        |  SELECT vec_id, label,
        |         list_sum(list_transform(list_zip(v, rec), p -> (p[1] - p[2]) * (p[1] - p[2]))) / len(v) AS mse,
        |         list_sum(list_transform(list_zip(v, rec), p -> p[1] * p[2]))
        |           / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |              * sqrt(list_sum(list_transform(rec, x -> x * x)))) AS cos,
        |         list_sum(qv) AS qsum
        |  FROM r
        |)
        |SELECT label, count(*)::BIGINT AS n,
        |       CAST(CAST(round(avg(mse) * 1e6, 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_mse_ppm,
        |       CAST(CAST(round(avg(cos), 6) AS DECIMAL(18,6)) AS DOUBLE) AS avg_cos,
        |       CAST(sum(qsum) AS BIGINT) AS q_checksum
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Quantization
        .int8SummaryByLabel(Tables(spark, dir).embeddings, "embedding", "label")
        .select($"label", $"n",
          dec($"avg_mse_ppm", 4).as("avg_mse_ppm"),
          dec($"avg_cos", 6).as("avg_cos"),
          $"q_checksum".cast("long").as("q_checksum"))
        .orderBy($"label")
    },

    // ---- q72: bigram-LM cross-entropy scoring (CCNet-style quality
    // filter): train the MLE bigram LM on the corpus (one gram groupBy ->
    // vocabulary²-bounded model table), score each doc by its average
    // -ln p(w2|w1) via one stream⋈model join, roll up per language.
    // NgramLm scaladoc has the 100 TB shape. --------------------------------
    QueryDef(
      "q72_ngram_lm",
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS gram
        |  FROM tok WHERE len(ts) >= 2
        |), lm AS (
        |  SELECT gram, count(*)::DOUBLE AS cb FROM g GROUP BY 1
        |), uni AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, sum(cb) AS cu FROM lm GROUP BY 1
        |), doc AS (
        |  SELECT g.doc_id, g.lang, avg(-ln(lm.cb / uni.cu)) AS ce
        |  FROM g JOIN lm USING (gram) JOIN uni ON split_part(g.gram, ' ', 1) = uni.w1
        |  GROUP BY 1, 2
        |)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       CAST(CAST(round(avg(ce), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_ce,
        |       CAST(CAST(round(min(ce), 4) AS DECIMAL(18,4)) AS DOUBLE) AS min_ce,
        |       CAST(CAST(round(max(ce), 4) AS DECIMAL(18,4)) AS DOUBLE) AS max_ce
        |FROM doc GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val lm = graft.operators.NgramLm.bigramLm(docs, "text")
      graft.operators.NgramLm.crossEntropy(docs, "text", lm, "doc_id", "lang")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          dec(avg($"ce"), 4).as("avg_ce"),
          dec(min($"ce"), 4).as("min_ce"),
          dec(max($"ce"), 4).as("max_ce"))
        .orderBy($"lang")
    },

    // ---- q73: perplexity FILTER (the step after q72's scoring): per
    // source, keep the lower-cross-entropy half of the scored documents —
    // deterministic (ce, doc_id) rank, the q64 quota idiom, so both
    // engines select the identical survivor set (q70 precedent for
    // ranking on unrounded doubles). Per-source windows distribute; at
    // 100 TB the rank threshold becomes a per-domain quantile computed
    // once (metadata) and broadcast. -------------------------------------
    QueryDef(
      "q73_perplexity_filter",
      """WITH tok AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, source,
        |         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS gram
        |  FROM tok WHERE len(ts) >= 2
        |), lm AS (
        |  SELECT gram, count(*)::DOUBLE AS cb FROM g GROUP BY 1
        |), uni AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, sum(cb) AS cu FROM lm GROUP BY 1
        |), doc AS (
        |  SELECT g.doc_id, g.source, avg(-ln(lm.cb / uni.cu)) AS ce
        |  FROM g JOIN lm USING (gram) JOIN uni ON split_part(g.gram, ' ', 1) = uni.w1
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY ce, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n_src
        |  FROM doc
        |)
        |SELECT source, count(*)::BIGINT AS n_kept, CAST(min(n_src) AS BIGINT) AS n_scored,
        |       CAST(CAST(round(avg(ce), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_ce_kept,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM ranked WHERE rn <= CAST(ceil(n_src * 0.5) AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val lm = graft.operators.NgramLm.bigramLm(docs, "text")
      val ce = graft.operators.NgramLm.crossEntropy(docs, "text", lm, "doc_id", "source")
      val w = Window.partitionBy($"source").orderBy($"ce", $"doc_id")
      val wAll = Window.partitionBy($"source")
      ce.withColumn("rn", row_number().over(w))
        .withColumn("n_src", count(lit(1)).over(wAll))
        .filter($"rn" <= ceil($"n_src" * 0.5).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"),
          min($"n_src").cast("long").as("n_scored"),
          dec(avg($"ce"), 4).as("avg_ce_kept"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"source")
    },

    // ---- q74: temperature-weighted domain mixture (DomainMixture
    // scaladoc: integer-exact largest-remainder quotas over w ∝ √n, md5
    // rank selection). The domain key merges src1* into one 275-doc
    // domain so the flattening is visible: 55% of the corpus -> 26.5% of
    // the sample. Σ quota == 200 exactly. --------------------------------
    QueryDef(
      "q74_domain_mixture",
      """WITH c AS (
        |  SELECT substr(source, 1, 4) AS domain, count(*)::BIGINT AS n_docs,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS s_total FROM c
        |), q0 AS (
        |  SELECT *, (200 * weight) // s_total AS quota0, (200 * weight) % s_total AS rem FROM w
        |), q AS (
        |  SELECT domain, n_docs, weight,
        |         CAST(quota0 + CASE WHEN row_number() OVER (ORDER BY rem DESC, domain)
        |           <= 200 - (SELECT CAST(sum(quota0) AS BIGINT) FROM q0) THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM q0
        |), ranked AS (
        |  SELECT doc_id, substr(source, 1, 4) AS domain,
        |         row_number() OVER (PARTITION BY substr(source, 1, 4)
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |)
        |SELECT q.domain, q.n_docs, q.weight, q.quota,
        |       count(*)::BIGINT AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM ranked JOIN q USING (domain) WHERE rn <= quota
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
        .withColumn("domain", substring($"source", 1, 4))
      graft.operators.DomainMixture.sample(docs, "doc_id", "domain", 200L)
        .groupBy($"domain", $"n_docs", $"weight", $"quota")
        .agg(count(lit(1)).as("n_sampled"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"domain")
    },

    // ---- q75: cross-document shared-gram fraction (Dedup
    // .crossDocGramStats scaladoc) — the per-document "how much of me
    // exists elsewhere" score: distinct-3-gram document frequency join,
    // no pair enumeration, so it scales past where even LSH candidate
    // generation hurts. frac > 0.5 is an exact integer-ratio comparison
    // (engine-portable bit-exactly). ------------------------------------
    QueryDef(
      "q75_shared_grams",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ts) - 1),
        |         i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS gram
        |  FROM tok WHERE len(ts) >= 3
        |), gdf AS (
        |  SELECT gram, count(*) AS gdf FROM g GROUP BY 1
        |), per AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_grams,
        |         count(*) FILTER (WHERE gdf >= 2)::BIGINT AS n_shared
        |  FROM g JOIN gdf USING (gram) GROUP BY 1
        |), perdoc AS (
        |  SELECT d.doc_id, d.source, coalesce(per.n_grams, 0) AS n_grams,
        |         coalesce(per.n_shared, 0) AS n_shared,
        |         CASE WHEN coalesce(per.n_grams, 0) > 0
        |              THEN per.n_shared * 1.0 / per.n_grams ELSE 0.0 END AS frac
        |  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       CAST(CAST(round(avg(frac), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_shared_frac,
        |       count(*) FILTER (WHERE frac > 0.5)::BIGINT AS n_mostly_shared,
        |       CAST(sum(n_shared) AS BIGINT) AS shared_checksum
        |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val stats = graft.operators.Dedup.crossDocGramStats(docs, "doc_id", "text", 3)
      docs.select($"doc_id", $"source").join(stats, Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          dec(avg($"shared_frac"), 4).as("avg_shared_frac"),
          count(when($"shared_frac" > 0.5, 1)).as("n_mostly_shared"),
          sum($"n_shared").cast("long").as("shared_checksum"))
        .orderBy($"source")
    },

    // ---- q76: FUZZY decontamination — near-duplicate (exact shingle
    // Jaccard >= 0.7) overlap with the eval slice, vs q68's verbatim
    // n-gram overlap. Bipartite MinHash-LSH candidates (eval side
    // broadcast — Decontamination.fuzzyContaminatedIds scaladoc), exact
    // refine, so the oracle is the exact bipartite all-pairs form. -------
    QueryDef(
      "q76_fuzzy_decontam",
      s"""WITH $shingleCte,
         |${bitmapInter("sh", lengthBand = Some(0.7))},
         |cont AS (
         |  SELECT DISTINCT CASE WHEN da % 11 = 0 THEN db ELSE da END AS doc_id
         |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
         |  WHERE (da % 11 = 0) <> (db % 11 = 0)
         |    AND i * 1.0 / (sa.n + sb.n - i) >= 0.7
         |)
         |SELECT d.lang, count(*)::BIGINT AS n_contaminated,
         |       CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
         |FROM $docRel d JOIN cont USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = slicedDocs(spark, dir)
      val ids = graft.operators.Decontamination.fuzzyContaminatedIds(
        docs, "doc_id", "text", $"doc_id" % 11 === 0, 0.7)
      docs.join(ids, Seq("doc_id"), "left_semi")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_contaminated"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"lang")
    },

    // ---- q77: SemDeDup — embedding near-dup restricted to k-means cells
    // (SimilaritySearch.clusteredNearDuplicates scaladoc). Gated the q50
    // way: the EXACT all-pairs set is differential (count + checksum vs
    // DuckDB), and the cluster path earns a live recall flag against it —
    // cell contents depend on partition layout, so only the
    // layout-independent exact numbers and the flag are hashed. ----------
    QueryDef(
      "q77_semdedup",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT a.vec_id AS ka, b.vec_id AS kb
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.45
        |)
        |SELECT count(*)::BIGINT AS n_exact_pairs,
        |       CAST(sum(ka + kb) AS BIGINT) AS pair_checksum,
        |       1 AS recall_ge_050
        |FROM p""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
      val exact = SimilaritySearch
        .nearDuplicates(e, "vec_id", "embedding", 0.45)
        .select($"ka", $"kb").cache()
      val sem = SimilaritySearch
        .clusteredNearDuplicates(spark, e, "vec_id", "embedding", 0.45, nLists = 8)
        .select($"ka", $"kb")
      val nExact = exact.count()
      // empty-corpus guard: sum over zero rows is NULL (mirrored by the
      // oracle's sum), and recall over an empty exact set is vacuously met
      val checksum: Option[Long] =
        if (nExact == 0) None else Some(exact.agg(sum($"ka" + $"kb")).as[Long].head())
      val hits = exact.join(sem, Seq("ka", "kb")).count()
      val recallOk = nExact == 0 || hits.toDouble / nExact >= 0.5
      Seq((nExact, checksum, if (recallOk) 1 else 0))
        .toDF("n_exact_pairs", "pair_checksum", "recall_ge_050")
    },

    // ---- q79: count-min heavy hitters (Sketches scaladoc) — the exact
    // top-20 token counts stay differential (both engines), and Spark's
    // CMS earns two envelope flags per the q65 pattern: est >= exact
    // (the sketch's hard one-sided guarantee) and est - exact <= eps·N
    // (the probabilistic bound — deterministic per dataset+seed since
    // counter merges commute, so the flag is stable once it clears). ----
    QueryDef(
      "q79_cms_heavy_hitters",
      """WITH tok AS (
        |  SELECT t.tok FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> ''
        |)
        |SELECT tok, count(*)::BIGINT AS n, 1 AS cms_ok
        |FROM tok GROUP BY tok
        |ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      // cached: three actions consume the token stream (total count, the
      // CMS treeAggregate, the exact top-20) and the explode dominates.
      // Cache-release contract: see Dedup.jaccardPairs.
      val toks = Tables(spark, dir).documents
        .select(explode(TextFunctions.alphaTokens($"text")).as("tok"))
        .cache()
      val top = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"tok").limit(20).cache()
      val eps = 1e-4
      val totalN = toks.count()
      val cms = graft.operators.Sketches.countMin(toks, $"tok", eps, 0.999)
      val est = graft.operators.Sketches.estimateAll(top.select($"tok"), "tok", cms)
      val slack = math.max(1L, math.ceil(eps * totalN).toLong)
      val bad = top.join(est, Seq("tok"))
        .filter($"est" < $"n" || $"est" - $"n" > slack)
        .count()
      top.withColumn("cms_ok", lit(if (bad == 0) 1 else 0))
        .orderBy($"n".desc, $"tok")
    },

    // ---- q82: markup/boilerplate stripping — the extraction step before
    // any quality scoring. Deterministic synthetic HTML is injected by
    // BOTH engines (the corpus has none — q69's injection idiom), then
    // tag counts and the md5 of the cleaned text are hash-gated. Patterns
    // are lookahead-free with non-greedy blocks, so the identical strings
    // run on Java regex and RE2. Row-local, codegen'd. -------------------
    QueryDef(
      "q82_markup_strip",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '<div class="a"><p>' || text || '</p></div>' ELSE text END
         |      || CASE WHEN doc_id % 4 = 1 THEN ' <script type="text/javascript">var x = 1 < 2;</script>' ELSE '' END
         |      || CASE WHEN doc_id % 5 = 2 THEN ' A&amp;B &lt;tag&gt; &quot;q&quot; &amp;lt;raw' ELSE '' END AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '${TextFunctions.TagPattern}'))::INT AS n_tags,
         |       md5(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |         '${TextFunctions.ScriptBlockPattern}', ' ', 'g'),
         |         '${TextFunctions.TagPattern}', ' ', 'g'),
         |         '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&amp;', '&', 'g'),
         |         '\\s+', ' ', 'g'))) AS clean_hash
         |FROM aug ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val id = $"doc_id"
      val aug = concat(
        when(id % 3 === 0,
          concat(lit("<div class=\"a\"><p>"), $"text", lit("</p></div>")))
          .otherwise($"text"),
        when(id % 4 === 1,
          lit(" <script type=\"text/javascript\">var x = 1 < 2;</script>"))
          .otherwise(lit("")),
        when(id % 5 === 2,
          lit(" A&amp;B &lt;tag&gt; &quot;q&quot; &amp;lt;raw"))
          .otherwise(lit("")))
      Tables(spark, dir).documents
        .select(id, aug.as("t"))
        .select(id,
          regexp_count($"t", lit(TextFunctions.TagPattern)).cast("int").as("n_tags"),
          md5(TextFunctions.stripMarkup($"t")).as("clean_hash"))
        .orderBy(id)
    },

    // ---- q83: prefix-filtering similarity join (PrefixFilterJoin
    // scaladoc) — the third physical strategy for the near-dup logical
    // operator: scalable like LSH but EXACT, so the oracle is the plain
    // all-pairs form over the same token space. Runs on word 3-grams
    // (order-sensitive, selective: the space where prefix filtering
    // prunes — on bounded-alphabet char shingles it degenerates, see
    // scaladoc), candidates only from each doc's rarest-gram prefix. ----
    QueryDef(
      "q83_prefix_join",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ts) - 1),
        |         i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS s
        |  FROM tok WHERE len(ts) >= 3
        |), sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT da, db,
        |       CAST(CAST(round(i * 1.0 / (sa.n + sb.n - i), 4) AS DECIMAL(18,4)) AS DOUBLE) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
        |ORDER BY da, db""",
    ) { (spark, dir) =>
      import spark.implicits._
      val grams = Tables(spark, dir).documents
        .select($"doc_id",
          explode(array_distinct(TextFunctions.wordNgrams($"text", 3))).as("s"))
      graft.operators.PrefixFilterJoin.nearDuplicatePairs(grams, 0.5)
        .select($"da", $"db", dec($"jaccard", 4).as("jaccard"))
        .orderBy($"da", $"db")
    },

    // ---- q84: overlapping token-window chunking (Chunking scaladoc) —
    // the RAG/context-prep step: 64-token windows every 48 tokens with
    // provenance offsets, trailing partial kept. Entirely row-local (one
    // sequence + slice generator, no shuffle); chunk text is md5'd so the
    // gate pins content, boundaries, and overlap bit-exactly. -----------
    QueryDef(
      "q84_chunking",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents WHERE doc_id < 100
        |), st AS (
        |  SELECT doc_id, ts, unnest(range(1, len(ts) + 1, 48)) AS s
        |  FROM tok WHERE len(ts) > 0
        |)
        |SELECT doc_id, ((s - 1) // 48)::INT AS chunk_idx, s::INT AS start_tok,
        |       len(ts[s:least(s + 63, len(ts))])::INT AS n_tokens,
        |       md5(array_to_string(ts[s:least(s + 63, len(ts))], ' ')) AS chunk_hash
        |FROM st ORDER BY doc_id, chunk_idx""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Chunking.tokenChunks(
          Tables(spark, dir).documents.filter($"doc_id" < 100),
          "doc_id", "text", size = 64, stride = 48)
        .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens",
          md5($"chunk_text").as("chunk_hash"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // ---- q88: real BPE subword encoding (Bpe scaladoc) — merges learned
    // from a fixed corpus slice by the sequential reference (the
    // tokenizer artifact; the DISTRIBUTED learner is gated against it in
    // BpeSpec), then the whole corpus encodes through Spark's
    // priority-loop encoder and must reproduce the independent
    // sequential encoder's token streams token-for-token (q44b idiom:
    // expected parquet via the once-per-dir fixture stage, md5-gated). ---
    QueryDef(
      "q88_bpe_encode",
      s"SELECT doc_id, n_tokens, tokens_hash FROM read_parquet('$BpeExpected/*.parquet') ORDER BY doc_id",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val merges = bpeMergesByDir.getOrElseUpdate(dir, {
        val corpus = docs.filter($"doc_id" < 200).select($"text").as[String].collect()
        graft.fixtures.BpeRef.learnMerges(corpus, 40)
      })
      ensureExpected("bpe", dir) {
        docs.select($"doc_id", $"text").as[(Long, String)]
          .mapPartitions(_.map { case (id, t) =>
            val toks = graft.fixtures.BpeRef.encode(t, merges)
            (id, toks.length, toks.mkString(" "))
          })
          .toDF("doc_id", "n_tokens", "tokens_text")
          .select($"doc_id", $"n_tokens", md5($"tokens_text").as("tokens_hash"))
          .coalesce(1).write.mode("overwrite").parquet(BpeExpected)
      }
      graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select($"doc_id", $"n_tokens", md5($"tokens_text").as("tokens_hash"))
        .orderBy($"doc_id")
    },

    // ---- q85: JL random projection (RandomProjection scaladoc) — 64->16
    // dims with a ±1 sign matrix DERIVED from md5 of the dimension
    // indices, so both engines re-create the identical matrix from
    // nothing but (d, j). Row-local (signs folded into the expression
    // tree as literals); both sides inner-product left-to-right. ---------
    QueryDef(
      "q85_random_projection",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
        |jj AS (SELECT unnest(range(0, 16)) AS j),
        |s AS (
        |  SELECT jj.j, list_transform(range(1, 65), d ->
        |    CASE WHEN (strpos('0123456789abcdef',
        |                      substr(md5(d::VARCHAR || '_' || jj.j::VARCHAR), 1, 1)) - 1) % 2 = 0
        |         THEN 1.0 ELSE -1.0 END) AS signs
        |  FROM jj
        |)
        |SELECT vec_id, j::INT AS j,
        |       CAST(CAST(round(list_inner_product(v, signs) / 4.0, 4) AS DECIMAL(18,4)) AS DOUBLE) AS y
        |FROM e, s ORDER BY vec_id, j""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.RandomProjection.projected(
          Tables(spark, dir).embeddings.filter($"vec_id" < 10),
          "vec_id", "embedding", dIn = 64, dOut = 16)
        .select($"vec_id", $"j", dec($"y", 4).as("y"))
        .orderBy($"vec_id", $"j")
    },

    // ---- q89: cross-document boilerplate line removal (LineDedup
    // scaladoc) — the CCNet/RefinedWeb line-dedup step: lines recurring in
    // >= 3 distinct docs (injected copyright header per source + a footer
    // on even ids, per the q69/q82 deterministic-injection idiom) are
    // stripped from every doc; surviving prose re-joined in order and
    // hash-gated. Linear in total line count — no pair enumeration. ------
    QueryDef(
      "q89_line_dedup",
      """WITH aug AS (
        |  SELECT doc_id,
        |         '© example corp ' || source || chr(10) || text ||
        |         CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END AS t
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS a FROM aug
        |), f AS (
        |  SELECT doc_id, r['pos'] AS pos, r['line'] AS line
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(a) + 1),
        |                 i -> {'pos': i, 'line': a[i]})) AS r
        |        FROM ls)
        |), freq AS (
        |  SELECT line, count(DISTINCT doc_id) AS df FROM f GROUP BY 1
        |), flagged AS (
        |  SELECT f.doc_id, f.pos, f.line, (freq.df >= 3) AS bp
        |  FROM f JOIN freq USING (line)
        |)
        |SELECT doc_id,
        |       count(*)::BIGINT AS n_lines,
        |       CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       md5(coalesce(string_agg(CASE WHEN NOT bp THEN line END, chr(10) ORDER BY pos), '')) AS clean_hash
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val aug = concat(
        lit("© example corp "), $"source", lit("\n"), $"text",
        when($"doc_id" % 2 === 0, lit("\nall rights reserved")).otherwise(lit("")))
      LineDedup.strip(
          Tables(spark, dir).documents.select($"doc_id", aug.as("t")),
          "doc_id", "t", minDocs = 3)
        .select($"doc_id", $"n_lines", $"n_removed",
          md5($"clean_text").as("clean_hash"))
        .orderBy($"doc_id")
    },

    // ---- q90: Unicode NFC normalization (NormalizeUnicode scaladoc) —
    // the custom codegen'd expression vs DuckDB's built-in nfc_normalize.
    // Injection: one third of docs get the DECOMPOSED spelling
    // (e + combining acute U+0301), one third the precomposed U+00E9 —
    // after NFC both spell café identically, so the two cohorts' hashes
    // converge and `changed` flags exactly the decomposed cohort. -------
    QueryDef(
      "q90_unicode_nfc",
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
        |                      WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
        |                      ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |       length(t)::BIGINT AS len_raw,
        |       length(nfc_normalize(t))::BIGINT AS len_nfc,
        |       (nfc_normalize(t) <> t) AS changed,
        |       md5(nfc_normalize(t)) AS nfc_hash
        |FROM aug ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val aug = concat($"text",
        when($"doc_id" % 3 === 0, lit(" café"))
          .when($"doc_id" % 3 === 1, lit(" café"))
          .otherwise(lit("")))
      val nfc = TextFunctions.nfc($"t")
      Tables(spark, dir).documents
        .select($"doc_id", aug.as("t"))
        .select($"doc_id",
          length($"t").cast("long").as("len_raw"),
          length(nfc).cast("long").as("len_nfc"),
          (nfc =!= $"t").as("changed"),
          md5(nfc).as("nfc_hash"))
        .orderBy($"doc_id")
    },

    // ---- q91: deterministic weighted sampling (WeightedSample scaladoc)
    // — Efraimidis–Spirakis exponential race keyed on an md5-derived
    // uniform, so both engines re-draw the identical sample from nothing
    // but the seed. Selection is TakeOrderedAndProject (per-partition
    // top-k heaps, no global sort). -------------------------------------
    QueryDef(
      "q91_weighted_sample",
      """WITH kk AS (
        |  SELECT doc_id, n_chars,
        |         -ln((('0x' || substr(md5('42_' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
        |             / 4294967296.0) / n_chars AS k
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT doc_id, n_chars::BIGINT AS w,
        |       CAST(CAST(round(k, 8) AS DECIMAL(18,8)) AS DOUBLE) AS sample_key
        |FROM kk ORDER BY k LIMIT 50""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
        .filter($"n_chars" > 0).select($"doc_id", $"n_chars")
      graft.operators.WeightedSample.take(docs, "doc_id", "n_chars", 50, "42")
        .select($"doc_id", $"n_chars".cast("long").as("w"),
          dec($"sample_key", 8).as("sample_key"))
    },

    // ---- q93: deterministic corpus shuffle into size-balanced training
    // shards — the write-shuffled-shards step: a seeded md5 sort key
    // pseudo-randomizes document order reproducibly, and the
    // SequencePacking distributed prefix sum (range partition + local
    // cumsum + broadcast offsets — no single-task global window) cuts the
    // shuffled stream into ~100k-char shards. Oracle = the textbook
    // one-window form. -------------------------------------------------
    QueryDef(
      "q93_shuffle_shards",
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |         md5('7_' || doc_id::VARCHAR) || '_' || doc_id::VARCHAR AS skey
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, n_chars,
        |         coalesce(sum(n_chars) OVER (ORDER BY skey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
        |  FROM k
        |)
        |SELECT (tb // 100000)::BIGINT AS shard_id,
        |       count(*)::BIGINT AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM p GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val keyed = Tables(spark, dir).documents
        .select($"doc_id", $"n_chars",
          concat(md5(concat(lit("7_"), $"doc_id".cast("string"))),
            lit("_"), $"doc_id".cast("string")).as("skey"))
      graft.operators.SequencePacking
        .withChunkIds(keyed, "skey", $"n_chars", capacity = 100000L)
        .groupBy($"chunk_id".as("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("sum_chars"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"shard_id")
    },

    // ---- q94: T5 span corruption (SpanCorruption scaladoc) — seeded
    // deterministic 15% masking, runs collapsed to <extra_id_K>
    // sentinels, dropped spans emitted as the target sequence; both
    // sequences hash-gated against DuckDB's window-function spelling of
    // the identical corruption. ------------------------------------------
    QueryDef(
      "q94_span_corruption",
      """WITH tok0 AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, r['pos'] AS pos, r['tok'] AS tok
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
        |               i -> {'pos': i - 1, 'tok': ts[i]})) AS r
        |        FROM tok0 WHERE len(ts) > 0)
        |), m0 AS (
        |  SELECT doc_id, pos, tok,
        |         ((('0x' || substr(md5('9_' || doc_id::VARCHAR || '_' || pos::VARCHAR), 1, 8))::BIGINT + 1)
        |          / 4294967296.0) < 0.15 AS m
        |  FROM tok
        |), runs AS (
        |  SELECT doc_id, pos, tok, m,
        |         m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS rs
        |  FROM m0
        |), isl AS (
        |  SELECT doc_id, pos, tok, m, rs,
        |         sum(CASE WHEN rs THEN 1 ELSE 0 END) OVER
        |           (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM runs
        |)
        |SELECT doc_id,
        |       count(*)::BIGINT AS n_tokens,
        |       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |       CAST(max(island) AS BIGINT) AS n_spans,
        |       md5(coalesce(string_agg(CASE WHEN NOT m THEN tok
        |                WHEN rs THEN '<extra_id_' || (island - 1)::VARCHAR || '>' END,
        |              ' ' ORDER BY pos), '')) AS masked_hash,
        |       md5(coalesce(string_agg(CASE WHEN m THEN
        |                CASE WHEN rs THEN '<extra_id_' || (island - 1)::VARCHAR || '> ' || tok
        |                     ELSE tok END END, ' ' ORDER BY pos), '')) AS target_hash
        |FROM isl GROUP BY doc_id ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.SpanCorruption.denoise(
          Tables(spark, dir).documents, "doc_id", "text", seed = "9")
        .select($"doc_id", $"n_tokens", $"n_masked", $"n_spans",
          md5($"masked_text").as("masked_hash"),
          md5($"target_text").as("target_hash"))
        .orderBy($"doc_id")
    },

    // ---- q95: fill-in-the-middle (FimTransform scaladoc) — two seeded
    // cut points, PSM re-ordering, entirely row-local (three substrings,
    // no shuffle). Reconstruction invariant + hash gated. ----------------
    QueryDef(
      "q95_fim_transform",
      """WITH c AS (
        |  SELECT doc_id, text, length(text) AS n,
        |         CAST(floor(((('0x' || substr(md5('11_a_' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
        |           / 4294967296.0) * length(text)) AS INT) AS c1,
        |         CAST(floor(((('0x' || substr(md5('11_b_' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
        |           / 4294967296.0) * length(text)) AS INT) AS c2
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, text, n, least(c1, c2) AS a, greatest(c1, c2) AS b FROM c
        |)
        |SELECT doc_id, a AS cut_a, b AS cut_b,
        |       md5('<PRE>' || substr(text, 1, a) || '<SUF>' || substr(text, b + 1, n - b)
        |           || '<MID>' || substr(text, a + 1, b - a)) AS fim_hash
        |FROM s ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.FimTransform.psm(
          Tables(spark, dir).documents, "doc_id", "text", seed = "11")
        .select($"doc_id", $"cut_a", $"cut_b", md5($"fim_text").as("fim_hash"))
        .orderBy($"doc_id")
    },

    // ---- q96: hashed linear quality classifier (QualityClassifier
    // scaladoc) — the fastText/model-based quality-filter step: token ->
    // md5-derived integer weight, doc score = mean weight, keep = score
    // > 0. Entirely row-local (transform + aggregate HOFs, BIGINT
    // accumulator — no token explode, no shuffle, order-independent
    // exact arithmetic). -------------------------------------------------
    QueryDef(
      "q96_quality_classifier",
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, len(ts)::BIGINT AS n_tokens,
        |         CAST(coalesce(list_sum(list_transform(ts, tok ->
        |           ('0x' || substr(md5('w_' || tok), 1, 8))::BIGINT % 2001 - 1000)), 0) AS BIGINT)
        |           AS weight_sum
        |  FROM t WHERE len(ts) > 0
        |)
        |SELECT doc_id, n_tokens, weight_sum,
        |       CAST(CAST(round(CAST(weight_sum / (1000.0 * n_tokens) AS DECIMAL(18,12)), 6)
        |           AS DECIMAL(18,6)) AS DOUBLE) AS score,
        |       (weight_sum > 0) AS keep
        |FROM s ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      QualityClassifier.score(Tables(spark, dir).documents, "doc_id", "text")
        // 12dp decimal snap before the 6dp round: both engines agree on
        // the DECIMAL(18,12) image of the same IEEE quotient, then round
        // the exact decimal half-up — a raw round(double, 6) splits on
        // exact 6dp ties (binary sits below; canonical string sits on)
        .select($"doc_id", $"n_tokens", $"weight_sum",
          out(round($"score".cast(DecimalType(18, 12)), 6)
            .cast(DecimalType(18, 6))).as("score"), $"keep")
        .orderBy($"doc_id")
    },

    // ---- q97: per-domain document caps (DomainCaps scaladoc) — URLs
    // synthesized deterministically from (doc_id, source) per the q69
    // injection idiom, registered domain extracted by regexp, then the
    // salted two-stage top-20-per-domain cap (exactly result-preserving;
    // the oracle is the single-window spelling). -------------------------
    QueryDef(
      "q97_domain_caps",
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |         CASE doc_id % 7
        |           WHEN 0 THEN 'www.example.com'  WHEN 1 THEN 'blog.example.com'
        |           WHEN 2 THEN 'news.sample.org'  WHEN 3 THEN 'docs.sample.org'
        |           WHEN 4 THEN 'example.net'      WHEN 5 THEN 'cdn.media.example.net'
        |           ELSE 'wiki.demo.io' END AS host
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, n_chars,
        |         regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM u
        |), r AS (
        |  SELECT doc_id, n_chars, domain,
        |         row_number() OVER (PARTITION BY domain
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM d
        |)
        |SELECT domain, count(*)::BIGINT AS n_docs,
        |       count(*) FILTER (WHERE rn <= 20)::BIGINT AS n_kept,
        |       CAST(sum(doc_id) FILTER (WHERE rn <= 20) AS BIGINT) AS kept_checksum
        |FROM r GROUP BY domain ORDER BY domain""",
    ) { (spark, dir) =>
      import spark.implicits._
      val hosts = array(
        lit("www.example.com"), lit("blog.example.com"), lit("news.sample.org"),
        lit("docs.sample.org"), lit("example.net"), lit("cdn.media.example.net"),
        lit("wiki.demo.io"))
      val withUrl = Tables(spark, dir).documents
        .select($"doc_id", $"n_chars",
          concat(lit("https://"), element_at(hosts, ($"doc_id" % 7).cast("int") + 1),
            lit("/"), $"source", lit("/doc"), $"doc_id".cast("string")).as("url"))
      DomainCaps.cap(withUrl, "doc_id", "url", "n_chars", maxPerDomain = 20)
        .groupBy($"domain")
        .agg(count(lit(1)).as("n_docs"),
          count(when($"kept", 1)).as("n_kept"),
          sum(when($"kept", $"doc_id")).cast("long").as("kept_checksum"))
        .orderBy($"domain")
    },

    // ---- q98: contrastive hard-negative mining (SimilaritySearch
    // .hardNegatives scaladoc) — per probe, the top-3 highest-cosine
    // candidates with a DIFFERENT label at cosine >= 0.1: the training-
    // pair assembly step for embedding models. Probes broadcast; label
    // predicate and band filter run before the tiny per-probe window. ----
    QueryDef(
      "q98_hard_negatives",
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS neg_label,
        |         round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 10 AND c.label <> q.label
        |), r AS (
        |  SELECT qid, cid, neg_label, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM p WHERE cos >= 0.1
        |)
        |SELECT qid, rn, cid, neg_label,
        |       CAST(CAST(cos AS DECIMAL(18,4)) AS DOUBLE) AS cos
        |FROM r WHERE rn <= 3 ORDER BY qid, rn""",
    ) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
      SimilaritySearch.hardNegatives(
          e.filter($"vec_id" < 10), e, "vec_id", "embedding", "label",
          k = 3, minCos = 0.1)
        .select($"qid", $"rn", $"cid", $"neg_label", dec($"cos", 4).as("cos"))
        .orderBy($"qid", $"rn")
    },

    // ---- q99: sharded JSONL training export — the terminal sink of the
    // pipeline: documents routed to md5-derived shards, written as
    // JSON-lines partitioned by shard directory, read BACK with an
    // explicit schema, and summarized per shard with an order-independent
    // content checksum (BIGINT sum of md5 prefixes), so any row loss or
    // text corruption through the JSON round trip breaks the hash; the
    // oracle computes the same summary straight from parquet (q66's
    // differential shape, aimed at the export layout). -------------------
    QueryDef(
      "q99_jsonl_export",
      """WITH s AS (
        |  SELECT doc_id, text,
        |         ('0x' || substr(md5('s_' || doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
        |  FROM documents
        |)
        |SELECT shard::BIGINT AS shard, count(*)::BIGINT AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
        |       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_checksum
        |FROM s GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
        .select($"doc_id", $"text",
          (conv(substring(md5(concat(lit("s_"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 8).as("shard"))
      // per-(sf-dir, JVM) path + overwrite: repeated passes in one JVM
      // replace the export, the pid component keeps two concurrently
      // launched harness JVMs from overwriting each other's export
      // mid-read-back, and dead JVMs' leftovers are swept on entry
      val tmp = pidScopedScratch("graft_jsonl_export", dir)
      docs.repartition($"shard")
        .write.mode("overwrite").partitionBy("shard").json(tmp)
      spark.read
        .schema("doc_id LONG, text STRING, shard LONG")
        .json(tmp)
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"doc_id").cast("long").as("id_checksum"),
          sum(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long"))
            .cast("long").as("text_checksum"))
        .orderBy($"shard")
    },

    // ---- q100: per-language perplexity buckets — the CCNet head/middle/
    // tail step after q72's scoring: docs tercile-bucketed per language by
    // (ce, doc_id) ntile. Deterministic because the tie order is pinned
    // (q73's precedent for ranking on unrounded doubles). At 100 TB the
    // bucket boundary becomes two per-language quantiles computed once
    // (metadata scale) and broadcast, replacing the full-partition window.
    QueryDef(
      "q100_ce_buckets",
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS gram
        |  FROM tok WHERE len(ts) >= 2
        |), lm AS (
        |  SELECT gram, count(*)::DOUBLE AS cb FROM g GROUP BY 1
        |), uni AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, sum(cb) AS cu FROM lm GROUP BY 1
        |), doc AS (
        |  SELECT g.doc_id, g.lang, avg(-ln(lm.cb / uni.cu)) AS ce
        |  FROM g JOIN lm USING (gram) JOIN uni ON split_part(g.gram, ' ', 1) = uni.w1
        |  GROUP BY 1, 2
        |), b AS (
        |  SELECT doc_id, lang, ce,
        |         ntile(3) OVER (PARTITION BY lang ORDER BY ce, doc_id) AS bucket
        |  FROM doc
        |)
        |SELECT lang, bucket, count(*)::BIGINT AS n_docs,
        |       CAST(CAST(round(avg(ce), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_ce,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val lm = graft.operators.NgramLm.bigramLm(docs, "text")
      val ce = graft.operators.NgramLm.crossEntropy(docs, "text", lm, "doc_id", "lang")
      val w = Window.partitionBy($"lang").orderBy($"ce", $"doc_id")
      ce.withColumn("bucket", ntile(3).over(w))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          dec(avg($"ce"), 4).as("avg_ce"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"lang", $"bucket")
    },

    // ---- q101: Unicode script detection (TextFunctions.scriptCounts /
    // dominantScript) — the script-ID half of language ID for a mixed
    // crawl. Injection per the q69/q90 idiom: every 10th doc is replaced
    // by a fully Cyrillic / Han / Greek line so dominance genuinely
    // varies. Java spells the property class \p{IsCyrillic}, the RE2
    // oracle \p{Cyrillic} — same Unicode tables. Row-local counts, one
    // 4-row rollup. -----------------------------------------------------
    QueryDef(
      "q101_script_detect",
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN 'привет мир кот'
        |              WHEN doc_id % 10 = 1 THEN '你好世界猫'
        |              WHEN doc_id % 10 = 2 THEN 'γεια σου κόσμε'
        |              ELSE text END AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(t, '\p{Latin}'))::BIGINT AS lat,
        |         len(regexp_extract_all(t, '\p{Cyrillic}'))::BIGINT AS cyr,
        |         len(regexp_extract_all(t, '\p{Han}'))::BIGINT AS han,
        |         len(regexp_extract_all(t, '\p{Greek}'))::BIGINT AS grk
        |  FROM aug
        |), s AS (
        |  SELECT *, CASE WHEN lat >= cyr AND lat >= han AND lat >= grk THEN 'latin'
        |                 WHEN cyr >= han AND cyr >= grk THEN 'cyrillic'
        |                 WHEN han >= grk THEN 'han' ELSE 'greek' END AS script
        |  FROM c
        |)
        |SELECT script, count(*)::BIGINT AS n_docs,
        |       CAST(sum(lat) AS BIGINT) AS latin_chars,
        |       CAST(sum(cyr) AS BIGINT) AS cyrillic_chars,
        |       CAST(sum(han) AS BIGINT) AS han_chars,
        |       CAST(sum(grk) AS BIGINT) AS greek_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM s GROUP BY script ORDER BY script""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val t = when($"doc_id" % 10 === 0, lit("привет мир кот"))
        .when($"doc_id" % 10 === 1, lit("你好世界猫"))
        .when($"doc_id" % 10 === 2, lit("γεια σου κόσμε"))
        .otherwise($"text")
      Tables(spark, dir).documents
        .select($"doc_id", TextFunctions.scriptCounts(t).as("sc"),
          TextFunctions.dominantScript(t).as("script"))
        .groupBy($"script")
        .agg(count(lit(1)).as("n_docs"),
          sum($"sc.latin").cast("long").as("latin_chars"),
          sum($"sc.cyrillic").cast("long").as("cyrillic_chars"),
          sum($"sc.han").cast("long").as("han_chars"),
          sum($"sc.greek").cast("long").as("greek_chars"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"script")
    },

    // ---- q102: exact substring-dedup spans (SubstringDedup scaladoc —
    // the Lee et al. 2021 signal): per doc, the maximal spans whose
    // 20-char windows all recur in >= 2 docs, via window explode ->
    // xxhash64 8-byte keys -> frequency join -> gaps-and-islands merge.
    // The hash is intermediate-only, so the DuckDB oracle groups the raw
    // window strings and reaches identical span boundaries. -------------
    QueryDef(
      "q102_substring_dedup",
      SubstringSpanOracle,
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.SubstringDedup
        .spanStats(Tables(spark, dir).documents, "doc_id", "text", minLen = 20, minDocs = 2)
        .select($"doc_id", $"n_islands".cast("long").as("n_islands"),
          $"removed_chars".cast("long").as("removed_chars"),
          $"remaining_chars".cast("long").as("remaining_chars"))
        .orderBy($"doc_id")
    },

    // ---- q113: the STRIDED substring-dedup path, driver-gated against
    // the SAME oracle as q102 — winnowed candidate discovery + stride-1
    // refine must reach the exact plan's span boundaries bit-for-bit
    // (the lossless-discovery claim, previously spec-only). -------------
    QueryDef(
      "q113_substring_dedup_strided",
      SubstringSpanOracle,
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.SubstringDedup
        .spanStats(Tables(spark, dir).documents, "doc_id", "text", minLen = 20, minDocs = 2,
          mode = graft.operators.SubstringDedup.SubstringMode.Strided)
        .select($"doc_id", $"n_islands".cast("long").as("n_islands"),
          $"removed_chars".cast("long").as("removed_chars"),
          $"remaining_chars".cast("long").as("remaining_chars"))
        .orderBy($"doc_id")
    },

    // ---- q103: directional near-containment pairs (Dedup
    // .containmentPairs scaladoc) — the asymmetric complement of q35's
    // Jaccard: a short doc quoted wholesale inside a long one scores
    // containment ~1 while Jaccard stays low. One intersection count per
    // unordered pair, both directions thresholded. -----------------------
    QueryDef(
      "q103_containment",
      s"""WITH sh5 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, substr(lower(text), g.i::INT, 5) AS s
         |  FROM $docRel, generate_series(1, 100000) g(i)
         |  WHERE g.i <= length(text) - 4
         |), sz5 AS (SELECT doc_id, count(*) AS n FROM sh5 GROUP BY 1),
         |${bitmapInter("sh5", lengthBand = None)},
         |sized AS (
         |  SELECT da, db, i, sa.n AS na, sb.n AS nb
         |  FROM inter JOIN sz5 sa ON sa.doc_id = da JOIN sz5 sb ON sb.doc_id = db
         |)
         |SELECT inner_doc, outer_doc,
         |       CAST(CAST(round(c, 4) AS DECIMAL(18,4)) AS DOUBLE) AS containment
         |FROM (SELECT da AS inner_doc, db AS outer_doc, i * 1.0 / na AS c FROM sized
         |      UNION ALL SELECT db, da, i * 1.0 / nb FROM sized)
         |WHERE c >= 0.9 ORDER BY inner_doc, outer_doc""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      Dedup.containmentPairs(
          Dedup.charShingles(slicedDocs(spark, dir), "doc_id", "text", n = 5), 0.9)
        .select($"inner_doc", $"outer_doc", dec($"containment", 4).as("containment"))
        .orderBy($"inner_doc", $"outer_doc")
    },

    // ---- q104: filter attribution — the pipeline-analysis step behind
    // every ablation table: for each quality filter (length, classifier,
    // stopword ratio), how many docs it flags, how many ONLY it flags
    // (its unique contribution), and the survivor count. All three
    // predicates are row-local; the whole query is one narrow projection
    // + one global aggregate. -------------------------------------------
    QueryDef(
      "q104_filter_attribution",
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |         (n_chars < 150) AS f_len,
        |         (CAST(coalesce(list_sum(list_transform(ts, tok ->
        |            ('0x' || substr(md5('w_' || tok), 1, 8))::BIGINT % 2001 - 1000)), 0) AS BIGINT)
        |          <= 0) AS f_qual,
        |         (len(ts) = 0 OR
        |          len(list_filter(ts, x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |            / len(ts) < 0.04) AS f_stop
        |  FROM t
        |)
        |SELECT count(*)::BIGINT AS n_docs,
        |       count(*) FILTER (WHERE f_len)::BIGINT AS len_flagged,
        |       count(*) FILTER (WHERE f_len AND NOT f_qual AND NOT f_stop)::BIGINT AS len_unique,
        |       count(*) FILTER (WHERE f_qual)::BIGINT AS qual_flagged,
        |       count(*) FILTER (WHERE f_qual AND NOT f_len AND NOT f_stop)::BIGINT AS qual_unique,
        |       count(*) FILTER (WHERE f_stop)::BIGINT AS stop_flagged,
        |       count(*) FILTER (WHERE f_stop AND NOT f_len AND NOT f_qual)::BIGINT AS stop_unique,
        |       count(*) FILTER (WHERE NOT f_len AND NOT f_qual AND NOT f_stop)::BIGINT AS survivors
        |FROM f""",
    ) { (spark, dir) =>
      import spark.implicits._
      val ts = TextFunctions.alphaTokens($"text")
      val stops = TextFunctions.DefaultStopwords
      val fLen = $"n_chars" < 150
      val fQual = aggregate(ts, lit(0L),
        (acc, t) => acc + graft.operators.QualityClassifier.tokenWeight(t)) <= 0
      val nStop = size(filter(ts, t => t.isInCollection(stops)))
      val fStop = size(ts) === 0 || nStop * 1.0 / size(ts) < 0.04
      def cnt(c: org.apache.spark.sql.Column)(name: String) = count(when(c, 1)).as(name)
      Tables(spark, dir).documents
        .select(fLen.as("f_len"), fQual.as("f_qual"), fStop.as("f_stop"))
        .agg(count(lit(1)).as("n_docs"),
          cnt($"f_len")("len_flagged"),
          cnt($"f_len" && !$"f_qual" && !$"f_stop")("len_unique"),
          cnt($"f_qual")("qual_flagged"),
          cnt($"f_qual" && !$"f_len" && !$"f_stop")("qual_unique"),
          cnt($"f_stop")("stop_flagged"),
          cnt($"f_stop" && !$"f_len" && !$"f_qual")("stop_unique"),
          cnt(!$"f_len" && !$"f_qual" && !$"f_stop")("survivors"))
    },

    // ---- q105: mergeable HLL sketches (Apache DataSketches via Spark's
    // hll_sketch_agg / hll_union_agg) — the distributed-sketch pattern
    // the per-partition/per-shard world runs on: per-source sketches
    // built independently, UNIONED without rescanning, estimate gated
    // inside a 5% envelope against the exact distinct computed by both
    // engines (the q65/q79/q80 flag idiom: sketch internals are not
    // portable; their guarantees are). ----------------------------------
    QueryDef(
      "q105_hll_merge",
      """SELECT count(DISTINCT source)::BIGINT AS n_sources,
        |       count(DISTINCT doc_id)::BIGINT AS exact_distinct,
        |       1 AS union_within_5pct, 1 AS every_source_within_5pct
        |FROM documents""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val perSrc = docs.groupBy($"source")
        .agg(expr("hll_sketch_agg(doc_id)").as("sk"),
          countDistinct($"doc_id").as("exact_src"))
        .cache()
      val srcBad = perSrc
        .select(expr("hll_sketch_estimate(sk)").as("est"), $"exact_src")
        .filter(abs($"est" - $"exact_src") / $"exact_src" > 0.05)
        .count()
      val row = perSrc.agg(
        count(lit(1)).as("n_sources"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_global")).head()
      val exact = docs.agg(countDistinct($"doc_id")).head().getLong(0)
      val unionOk = math.abs(row.getLong(1) - exact).toDouble / exact <= 0.05
      Seq((row.getLong(0), exact, if (unionOk) 1 else 0, if (srcBad == 0) 1 else 0))
        .toDF("n_sources", "exact_distinct", "union_within_5pct", "every_source_within_5pct")
    },

    // ---- q106: chat-template rendering (the SFT formatting step): each
    // doc becomes a user turn (token-budget-trimmed to 150 whitespace
    // tokens) plus a stub assistant turn (first 30 tokens), rendered with
    // im_start/im_end special tokens. Entirely row-local string/array
    // work; the rendered transcript is md5-gated so both engines must
    // agree byte-for-byte on trimming and assembly. ----------------------
    QueryDef(
      "q106_chat_template",
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), r AS (
        |  SELECT doc_id,
        |         len(ts[1:150])::BIGINT AS n_user_tokens,
        |         '<|im_start|>user' || chr(10) || array_to_string(ts[1:150], ' ')
        |           || '<|im_end|>' || chr(10) || '<|im_start|>assistant' || chr(10)
        |           || array_to_string(ts[1:30], ' ') || '<|im_end|>' AS rendered
        |  FROM t
        |)
        |SELECT doc_id, n_user_tokens,
        |       length(rendered)::BIGINT AS n_chars,
        |       md5(rendered) AS render_hash
        |FROM r ORDER BY doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val ts = TextFunctions.tokens($"text")
      val rendered = concat(
        lit("<|im_start|>user\n"), array_join(slice(ts, 1, 150), " "),
        lit("<|im_end|>\n<|im_start|>assistant\n"), array_join(slice(ts, 1, 30), " "),
        lit("<|im_end|>"))
      Tables(spark, dir).documents
        .select($"doc_id",
          size(slice(ts, 1, 150)).cast("long").as("n_user_tokens"),
          length(rendered).cast("long").as("n_chars"),
          md5(rendered).as("render_hash"))
        .orderBy($"doc_id")
    },

    // ---- q107: intra-document line dedup (LineDedup.stripWithinDoc) —
    // the within-page complement of q89's cross-document strip: repeated
    // lines inside one document collapse to their first occurrence, as a
    // ROW-LOCAL higher-order fold (no explode, no shuffle). Injection
    // per the q89 idiom: every third doc gets a nav block pasted twice,
    // every third+1 a doubled footer. The oracle spells the same
    // semantics positionally (min-pos per line, reassembled in
    // first-occurrence order). ------------------------------------------
    QueryDef(
      "q107_intradoc_line_dedup",
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN 'nav menu' || chr(10) || text || chr(10) || 'nav menu'
        |                   || chr(10) || 'nav menu'
        |              WHEN doc_id % 3 = 1
        |              THEN text || chr(10) || 'footer' || chr(10) || 'footer'
        |              ELSE text END AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, r['pos'] AS pos, r['line'] AS line
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(string_split(t, chr(10))) + 1),
        |                 i -> {'pos': i, 'line': string_split(t, chr(10))[i]})) AS r
        |        FROM aug)
        |), k AS (
        |  SELECT doc_id, line, min(pos) AS pos FROM l GROUP BY doc_id, line
        |), n AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_lines FROM l GROUP BY doc_id
        |)
        |SELECT k.doc_id, n.n_lines,
        |       (n.n_lines - count(*))::BIGINT AS n_removed,
        |       md5(string_agg(k.line, chr(10) ORDER BY k.pos)) AS clean_hash
        |FROM k JOIN n ON n.doc_id = k.doc_id
        |GROUP BY k.doc_id, n.n_lines ORDER BY k.doc_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = when($"doc_id" % 3 === 0,
          concat(lit("nav menu\n"), $"text", lit("\nnav menu\nnav menu")))
        .when($"doc_id" % 3 === 1, concat($"text", lit("\nfooter\nfooter")))
        .otherwise($"text")
      Tables(spark, dir).documents
        .select($"doc_id", LineDedup.stripWithinDoc(t).as("d"))
        .select($"doc_id", $"d.n_lines".as("n_lines"),
          $"d.n_removed".as("n_removed"), md5($"d.clean_text").as("clean_hash"))
        .orderBy($"doc_id")
    },

    // ---- q111: L8 streaming incremental near-dedup, gated end-to-end —
    // the documents corpus is drained through the REAL streaming machinery
    // (file source, one chunk file per micro-batch, foreachBatch dedup
    // against the persisted signature index, checkpointed) and the
    // retained survivor set must hash-equal the single-batch reference
    // drain (DedupStreams.dedupOnce, batching invariance: the operator's
    // documented monotone-id contract). The oracle reads the reference
    // survivors written by the once-per-dir fixture stage. Chunk files
    // are fed one per micro-batch by StreamGate.replay — gate harness
    // only; a production ingest just points the file source at the
    // landing directory. ------------------------------------------------
    QueryDef(
      "q111_stream_dedup",
      s"SELECT doc_id FROM read_parquet('$StreamDedupExpected/*.parquet') ORDER BY doc_id",
    ) { (spark, dir) =>
      import spark.implicits._
      // 2000-doc slice: the gate proves the streaming machinery and the
      // batching-invariance contract, not ingest throughput (that's the
      // bench's 20k-file stream step) — and the reference drain + 4-batch
      // stream run inside the timed body, so gate size is gate cost
      val docs = Tables(spark, dir).documents.filter($"doc_id" < 2000)
        .select($"doc_id", $"text")
      val scratch = pidScopedScratch("graft_stream_dedup", dir) // see q99's pid note
      // 4 gate-scoped shuffle partitions (StreamGate's commit-cost trim,
      // extended to this gate in r13 — it predated the r12 sweep): every
      // shuffle here is over a 2000-doc slice, so 32-way exchanges +
      // 32-task stages are pure per-batch fixed cost across the 4
      // micro-batches and the reference drain. Results are partition-
      // count-invariant by the operator's determinism contract
      // (StreamingSpec's batching-invariance pins).
      val run = s"$scratch/run"
      withConf(spark, "spark.sql.shuffle.partitions" -> "4") {
        ensureExpected("streamdedup", dir) {
          val ref = s"$scratch/ref"
          LocalDirs.deleteRecursively(java.nio.file.Paths.get(ref))
          graft.streaming.DedupStreams.dedupOnce(docs, s"$ref/out", s"$ref/index")
          spark.read.parquet(s"$ref/out").select($"doc_id").orderBy($"doc_id")
            .coalesce(1).write.mode("overwrite").parquet(StreamDedupExpected)
        }
        // 4 contiguous id-range chunks: monotone doc_id arrival across
        // batches, the operator's documented precondition (4 micro-batches
        // prove the index round trip while keeping the gate's fixed
        // per-batch cost — planning + checkpoint + sink commit — bounded)
        val chunked = docs.withColumn("chunk", ntile(4).over(Window.orderBy($"doc_id")) - 1)
        StreamGate.replay(run, chunked, 4, "doc_id LONG, text STRING") { stream =>
          graft.streaming.DedupStreams.ingest(
            stream, s"$run/out", s"$run/index", s"$run/ckpt", availableNow = false)
        }
      }
      spark.read.parquet(s"$run/out").select($"doc_id").orderBy($"doc_id")
    },

    // ---- q115: URL canonicalization + canonical-URL dedup
    // (UrlFunctions scaladoc) — the crawl-hygiene step BEFORE URL-keyed
    // dedup/domain caps: raw URLs are injected deterministically per the
    // q69/q82 idiom in three messy spellings per page (tracking params /
    // upper-cased host + default port + trailing slash / bare host +
    // fbclid), plus a :8080 cohort whose explicit port must SURVIVE;
    // canonicalization collapses each page's spellings to one URL,
    // min-doc_id survivorship per canonical group. Entirely row-local
    // builtins; the only shuffles are the two rollup groupBys. ----------
    QueryDef(
      "q115_url_canonicalize",
      """WITH hosts(hid, h) AS (
        |  VALUES (0,'example.com'),(1,'sample.org'),(2,'demo.io'),(3,'media.example.net')
        |), raw AS (
        |  SELECT doc_id, (doc_id // 3) AS page, (doc_id % 3) AS variant
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, page,
        |    CASE variant
        |      WHEN 0 THEN 'https://www.' || h || '/articles/page' || page || '?id=' || page || '&utm_source=feed'
        |      WHEN 1 THEN CASE WHEN page % 5 = 0
        |        THEN 'HTTPS://WWW.' || upper(h) || ':8080/articles/page' || page || '/?id=' || page
        |        ELSE 'HTTPS://WWW.' || upper(h) || ':443/articles/page' || page || '/?id=' || page END
        |      ELSE 'https://' || h || '/articles/page' || page || '?utm_campaign=x&id=' || page || '&fbclid=abc'
        |    END AS url
        |  FROM raw JOIN hosts ON hid = page % 4
        |), c AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^([^:]*)', 1)), '^www\.', '') AS host,
        |    regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':([0-9]+)$', 1) AS port,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query0
        |  FROM u
        |), k AS (
        |  SELECT doc_id, scheme, host, port,
        |    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(path0, '/+$', '') END AS path,
        |    list_sort(list_filter(string_split(query0, '&'),
        |      p -> p <> '' AND NOT (starts_with(p,'utm_') OR starts_with(p,'fbclid') OR starts_with(p,'gclid')))) AS params
        |  FROM c
        |), canon AS (
        |  SELECT doc_id, host,
        |    scheme || '://' || host ||
        |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443')
        |         THEN '' ELSE ':' || port END ||
        |    path ||
        |    CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS curl
        |  FROM k
        |), g AS (
        |  SELECT host, curl, min(doc_id) AS survivor, count(*) AS n
        |  FROM canon GROUP BY 1, 2
        |)
        |SELECT host, CAST(sum(n) AS BIGINT) AS n_urls,
        |       count(*)::BIGINT AS n_canonical,
        |       CAST(sum(survivor) AS BIGINT) AS survivor_checksum
        |FROM g GROUP BY host ORDER BY host""",
    ) { (spark, dir) =>
      import spark.implicits._
      import graft.functions.UrlFunctions
      val hosts = array(lit("example.com"), lit("sample.org"),
        lit("demo.io"), lit("media.example.net"))
      val base = Tables(spark, dir).documents
        .select($"doc_id", expr("doc_id div 3").as("page"), ($"doc_id" % 3).as("variant"))
      val h = element_at(hosts, ($"page" % 4).cast("int") + 1)
      val p = $"page".cast("string")
      val url = when($"variant" === 0,
          concat(lit("https://www."), h, lit("/articles/page"), p, lit("?id="), p, lit("&utm_source=feed")))
        .when($"variant" === 1, when($"page" % 5 === 0,
            concat(lit("HTTPS://WWW."), upper(h), lit(":8080/articles/page"), p, lit("/?id="), p))
          .otherwise(
            concat(lit("HTTPS://WWW."), upper(h), lit(":443/articles/page"), p, lit("/?id="), p)))
        .otherwise(
          concat(lit("https://"), h, lit("/articles/page"), p, lit("?utm_campaign=x&id="), p, lit("&fbclid=abc")))
      base.select($"doc_id", UrlFunctions.canonicalizeUrl(url).as("curl"))
        .groupBy($"curl")
        .agg(min($"doc_id").as("survivor"), count(lit(1)).as("n"))
        .groupBy(UrlFunctions.canonicalHost($"curl").as("host"))
        .agg(sum($"n").cast("long").as("n_urls"),
          count(lit(1)).as("n_canonical"),
          sum($"survivor").cast("long").as("survivor_checksum"))
        .orderBy($"host")
    },

    // ---- q116: cross-document exact paragraph dedup, first-occurrence-
    // wins (ParagraphDedup scaladoc) — the RefinedWeb granularity between
    // q89's >=k-docs line boilerplate and q34's whole-doc hashes; the
    // tiny shared vocabulary makes 15-word windows collide across docs
    // naturally, so no injection is needed. One explode + md5-keyed
    // window + one reassembly groupBy — linear, no pair enumeration. ----
    QueryDef(
      "q116_paragraph_dedup",
      """WITH tok AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id, source, i AS idx,
        |         array_to_string(ts[i*15+1 : i*15+15], ' ') AS para
        |  FROM tok, UNNEST(generate_series(0, CAST(ceil(len(ts) / 15.0) AS BIGINT) - 1)) AS t(i)
        |), ranked AS (
        |  SELECT doc_id, source, idx, para,
        |         row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |  FROM paras
        |), cleaned AS (
        |  SELECT doc_id, any_value(source) AS source,
        |         count(*) AS n_paras,
        |         count(*) FILTER (WHERE rn > 1) AS n_dup,
        |         coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '') AS text2
        |  FROM ranked GROUP BY doc_id
        |)
        |SELECT source, CAST(sum(n_paras) AS BIGINT) AS n_paras,
        |       CAST(sum(n_dup) AS BIGINT) AS n_dup_paras,
        |       count(*) FILTER (WHERE n_dup > 0)::BIGINT AS n_docs_affected,
        |       CAST(sum(len(text2)) AS BIGINT) AS kept_chars,
        |       CAST(sum(('0x' || substr(md5(text2), 1, 8))::BIGINT) AS BIGINT) AS cleaned_checksum
        |FROM cleaned GROUP BY source ORDER BY source""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.ParagraphDedup
        .stripFirstOccurrence(Tables(spark, dir).documents,
          "doc_id", "text", wordsPerPara = 15, carryCols = Seq("source"))
        .groupBy($"source")
        .agg(sum($"n_paras").cast("long").as("n_paras"),
          sum($"n_dup").cast("long").as("n_dup_paras"),
          count(when($"n_dup" > 0, 1)).as("n_docs_affected"),
          sum(length($"cleaned")).cast("long").as("kept_chars"),
          sum(conv(substring(md5($"cleaned"), 1, 8), 16, 10).cast("long"))
            .cast("long").as("cleaned_checksum"))
        .orderBy($"source")
    },

    // ---- q117: embedding-quality audit — per-label centroid cohesion +
    // bottom-5 outliers (SimilaritySearch.centroidOutliers scaladoc): the
    // label-trust sweep that gates q98's label-driven hard-negative
    // mining. Centroids use exact decimal component sums so both engines
    // derive bit-identical centroids regardless of accumulation order. --
    QueryDef(
      "q117_embedding_outliers",
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), ex AS (
        |  SELECT label, vec_id, i, v[i] AS x
        |  FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
        |), comp AS (
        |  SELECT label, i,
        |         CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS c
        |  FROM ex GROUP BY label, i
        |), cent AS (
        |  SELECT label, list(c ORDER BY i) AS cv FROM comp GROUP BY label
        |), scored AS (
        |  SELECT e.label, e.vec_id,
        |         round(list_inner_product(e.v, cent.cv)
        |           / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(cent.cv, cent.cv))), 6) AS cos
        |  FROM e JOIN cent USING (label)
        |), ranked AS (
        |  SELECT label, vec_id, cos,
        |         row_number() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rn
        |  FROM scored
        |)
        |SELECT label, count(*)::BIGINT AS n,
        |       CAST(round(CAST(avg(cos) AS DECIMAL(18,6)), 4) AS DOUBLE) AS avg_cos,
        |       CAST(CAST(min(cos) AS DECIMAL(18,6)) AS DOUBLE) AS min_cos,
        |       CAST(sum(vec_id) FILTER (WHERE rn <= 5) AS BIGINT) AS outlier_checksum
        |FROM ranked GROUP BY label ORDER BY label""",
    ) { (spark, dir) =>
      import spark.implicits._
      SimilaritySearch
        .centroidOutliers(Tables(spark, dir).embeddings, "vec_id", "embedding", "label")
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          out(round(avg($"cos").cast(DecimalType(18, 6)), 4)).as("avg_cos"),
          out(min($"cos").cast(DecimalType(18, 6))).as("min_cos"),
          sum(when($"rn" <= 5, $"vid")).cast("long").as("outlier_checksum"))
        .orderBy($"label")
    },

    // ---- q118: corpus snapshot delta (SnapshotDelta scaladoc) — the
    // data-versioning diff between two exports: snapshot B is derived
    // deterministically from the documents table (doc_id%9==3 deleted,
    // doc_id%7==2 edited in place, doc_id%13==5 re-added as new ids; all
    // moduli coprime to the 20-way source cycle so every source sees all
    // four statuses). The operator fingerprints BEFORE the full-outer
    // join, so the diff shuffles (id, md5, len) rows, never text. -------
    QueryDef(
      "q118_snapshot_delta",
      """WITH a AS (SELECT doc_id, text, source FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 2 THEN text || ' edited' ELSE text END AS text,
        |         source
        |  FROM documents WHERE doc_id % 9 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new document ' || doc_id, source
        |  FROM documents WHERE doc_id % 13 = 5
        |), j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         coalesce(a.source, b.source) AS source,
        |         CASE
        |           WHEN a.doc_id IS NULL THEN 'added'
        |           WHEN b.doc_id IS NULL THEN 'removed'
        |           WHEN md5(a.text) <> md5(b.text) THEN 'changed'
        |           ELSE 'retained' END AS status,
        |         coalesce(length(b.text), 0) - coalesce(length(a.text), 0) AS char_delta
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |)
        |SELECT source, status, count(*)::BIGINT AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
        |       CAST(sum(char_delta) AS BIGINT) AS char_delta
        |FROM j GROUP BY source, status ORDER BY source, status""",
    ) { (spark, dir) =>
      import spark.implicits._
      val a = Tables(spark, dir).documents.select($"doc_id", $"text", $"source")
      val edited = a.filter($"doc_id" % 9 =!= 3)
        .withColumn("text",
          when($"doc_id" % 7 === 2, concat($"text", lit(" edited"))).otherwise($"text"))
      val added = a.filter($"doc_id" % 13 === 5)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat(lit("new document "), $"doc_id".cast("string")).as("text"), $"source")
      graft.operators.SnapshotDelta
        .delta(a, edited.unionByName(added), "doc_id", "text", carryCols = Seq("source"))
        .groupBy($"source", $"status")
        .agg(count(lit(1)).as("n"),
          sum($"doc_id").cast("long").as("id_checksum"),
          sum($"char_delta").cast("long").as("char_delta"))
        .orderBy($"source", $"status")
    },

    // ---- q119: DSIR-style importance selection (NgramLm
    // .importanceRatio scaladoc; Xie et al. 2023) — shift the corpus
    // mixture toward the 'de' slice by mean bigram log importance ratio,
    // then take the top fifth per language by deterministic
    // (li desc, doc_id) rank — q64's quota idiom on an importance score
    // instead of a hash. li is decimal-snapped to 6dp BEFORE ranking so
    // duplicate-text docs (identical gram multisets, different float
    // accumulation order per engine) can never flip a quota-boundary
    // rank between the engines. ----------------------------------------
    QueryDef(
      "q119_dsir_selection",
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS gram
        |  FROM tok WHERE len(ts) >= 2
        |), lmg AS (
        |  SELECT gram, count(*)::DOUBLE AS cb FROM g GROUP BY 1
        |), unig AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, sum(cb) AS cu FROM lmg GROUP BY 1
        |), glog AS (
        |  SELECT gram, -ln(cb / cu) AS lpg
        |  FROM lmg JOIN unig ON split_part(lmg.gram, ' ', 1) = unig.w1
        |), lmt AS (
        |  SELECT gram, count(*)::DOUBLE AS cb FROM g WHERE lang = 'de' GROUP BY 1
        |), unit AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, sum(cb) AS cu FROM lmt GROUP BY 1
        |), tlog AS (
        |  SELECT gram, -ln(cb / cu) AS lpt
        |  FROM lmt JOIN unit ON split_part(lmt.gram, ' ', 1) = unit.w1
        |), doc AS (
        |  SELECT g.doc_id, g.lang,
        |         round(CAST(avg(glog.lpg - tlog.lpt) AS DECIMAL(18,8)), 6) AS li
        |  FROM g JOIN glog USING (gram) JOIN tlog USING (gram)
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT lang, doc_id, li,
        |         row_number() OVER (PARTITION BY lang ORDER BY li DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS nl
        |  FROM doc
        |)
        |SELECT lang, count(*)::BIGINT AS n_scored,
        |       count(*) FILTER (WHERE rn <= nl // 5)::BIGINT AS n_selected,
        |       CAST(round(CAST(avg(li) FILTER (WHERE rn <= nl // 5) AS DECIMAL(18,6)), 4) AS DOUBLE) AS avg_li_sel,
        |       CAST(sum(doc_id) FILTER (WHERE rn <= nl // 5) AS BIGINT) AS sel_checksum
        |FROM ranked GROUP BY lang ORDER BY lang""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val li = graft.operators.NgramLm
        .importanceRatio(docs, "text", $"lang" === "de", "doc_id", "lang")
        .withColumn("li", round($"li".cast(DecimalType(18, 8)), 6))
      val w = Window.partitionBy($"lang").orderBy($"li".desc, $"doc_id")
      val ranked = li
        .withColumn("rn", row_number().over(w))
        .withColumn("nl", count(lit(1)).over(Window.partitionBy($"lang")))
      val quota = expr("nl div 5")
      ranked.groupBy($"lang")
        .agg(count(lit(1)).as("n_scored"),
          count(when($"rn" <= quota, 1)).as("n_selected"),
          out(round(avg(when($"rn" <= quota, $"li")).cast(DecimalType(18, 6)), 4)).as("avg_li_sel"),
          sum(when($"rn" <= quota, $"doc_id")).cast("long").as("sel_checksum"))
        .orderBy($"lang")
    },

    // ---- q120: TF-IDF keyword extraction (TfIdf scaladoc) — the
    // document-side complement of q70's BM25 retrieval: top-3 keywords
    // per doc, rolled up to the top-20 keywords per language by
    // document count. Scores are snapped to a 6dp decimal grid before
    // ranking (q119 idiom) so no float ulp can flip a top-3 boundary. --
    QueryDef(
      "q120_tfidf_keywords",
      """WITH tok AS (
        |  SELECT doc_id, lang, t.tok AS term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> ''
        |), tf AS (
        |  SELECT doc_id, lang, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3
        |), idf AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, lang, term,
        |         round(CAST(tf.tf * ln(n.n / idf.df) AS DECIMAL(18,8)), 6) AS s
        |  FROM tf JOIN idf USING (term) CROSS JOIN n
        |), top3 AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS rn
        |  FROM scored
        |), kw AS (
        |  SELECT lang, term, count(*) AS n_docs, sum(s) AS ssum
        |  FROM top3 WHERE rn <= 3 GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n_docs DESC, term) AS rnk
        |  FROM kw
        |)
        |SELECT lang, term, n_docs::BIGINT AS n_docs, CAST(ssum AS DOUBLE) AS score_sum
        |FROM ranked WHERE rnk <= 20 ORDER BY lang, n_docs DESC, term""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val kw = graft.operators.TfIdf
        .topKeywords(docs, "doc_id", "text", k = 3, nDocs = docs.count(),
          carryCols = Seq("lang"))
        .groupBy($"lang", $"term")
        .agg(count(lit(1)).as("n_docs"), sum($"score").as("ssum"))
      val w = Window.partitionBy($"lang").orderBy($"n_docs".desc, $"term")
      kw.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 20)
        .select($"lang", $"term", $"n_docs", out($"ssum").as("score_sum"))
        .orderBy($"lang", $"n_docs".desc, $"term")
    },

    // ---- q121: length-bucketed batch packing (Curriculum
    // .lengthBucketPack scaladoc) — the padding-efficiency transform:
    // pad-to-power-of-two buckets, 32 docs per batch within a bucket,
    // exact integer bucket thresholds (no float log2 — its ln(x)/ln(2)
    // spelling rounds differently across engines exactly at the
    // power-of-two boundaries that DEFINE the buckets). The per-bucket
    // rank is the keyed distributed prefix sum, not a per-bucket
    // window: a handful of buckets over 100 TB would otherwise
    // serialize into a handful of tasks. ------------------------------
    QueryDef(
      "q121_length_bucket_pack",
      """WITH d AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
        |         WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
        |         WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
        |         ELSE 1024 END AS pad_len
        |  FROM d
        |), p AS (
        |  SELECT *, row_number() OVER (PARTITION BY pad_len ORDER BY doc_id) - 1 AS rn
        |  FROM b
        |), a AS (SELECT *, rn // 32 AS batch_id FROM p)
        |SELECT pad_len, count(*)::BIGINT AS n_docs,
        |       count(DISTINCT batch_id)::BIGINT AS n_batches,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tok,
        |       CAST(round(CAST(CAST(sum(n_tok) AS DOUBLE) / (count(*) * pad_len) AS DECIMAL(18,8)), 4) AS DOUBLE) AS fill_ratio,
        |       CAST(sum(doc_id * (batch_id + 1)) AS BIGINT) AS batch_checksum
        |FROM a GROUP BY pad_len ORDER BY pad_len""",
    ) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).documents
        .select($"doc_id", size(TextFunctions.tokens($"text")).cast("long").as("n_tok"))
      graft.operators.Curriculum
        .lengthBucketPack(d, "doc_id", $"n_tok", docsPerBatch = 32)
        .groupBy($"pad_len")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"batch_id").as("n_batches"),
          sum($"n_tok").cast("long").as("total_tok"),
          out(round((sum($"n_tok").cast("double") / (count(lit(1)) * $"pad_len"))
            .cast(DecimalType(18, 8)), 4)).as("fill_ratio"),
          sum($"doc_id" * ($"batch_id" + 1)).cast("long").as("batch_checksum"))
        .orderBy($"pad_len")
    },

    // ---- q122: curriculum interleave (Curriculum.interleave scaladoc)
    // — "best first, sources round-robin": rank within source by
    // (n_chars DESC, doc_id), global position = (rank-1)*20 + source
    // index; verified per position-decile (early deciles must carry the
    // long documents). Same keyed-prefix-sum scale posture as q121. ----
    QueryDef(
      "q122_curriculum_interleave",
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         CAST(substr(source, 4) AS BIGINT) AS sidx,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) - 1 AS rk
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, n_chars, rk * 20 + sidx AS position FROM r
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT (position * 10) // n.n AS band, count(*)::BIGINT AS n_docs,
        |       CAST(min(position) AS BIGINT) AS min_pos,
        |       CAST(max(position) AS BIGINT) AS max_pos,
        |       CAST(round(CAST(avg(n_chars) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM p CROSS JOIN n GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val nTotal = docs.count()
      // project BEFORE the prefix sum: its internal cache materializes
      // every input column, so a full-width frame would drag text
      // through the rank shuffle
      graft.operators.Curriculum
        .interleave(docs.select($"doc_id", $"source", $"n_chars"),
          "source", substring($"source", 4, 10).cast("long"),
          $"n_chars", "doc_id", nGroups = 20)
        .withColumn("band", expr(s"(position * 10) DIV ${nTotal}L"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_docs"),
          min($"position").as("min_pos"),
          max($"position").as("max_pos"),
          out(round(avg($"n_chars").cast(DecimalType(18, 6)), 2)).as("avg_chars"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"band")
    },

    // ---- q123: character-entropy bands (CharEntropyStats scaladoc) —
    // the cheap gibberish filter: per-doc codepoint Shannon entropy in
    // ONE row-local pass (the explode + double-groupBy spelling, which
    // the oracle recomputes, shuffles a stream ~100x wider than the
    // documents twice). Two degenerate cohorts are injected per the
    // q69/q115 idiom (single-char repeat -> H=0 exactly by algebraic
    // cancellation; five-char repeat -> H=log2(5)) so the low-entropy
    // bands are populated; entropies are snapped to 6dp decimals
    // before banding and averaging. -----------------------------------
    QueryDef(
      "q123_entropy_bands",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 11 = 0 THEN repeat('z', 200)
        |         WHEN doc_id % 11 = 5 THEN repeat('spam ', 40)
        |         ELSE text END AS text2
        |  FROM documents
        |), cx AS (
        |  SELECT doc_id, lang, c, count(*)::DOUBLE AS cnt
        |  FROM t, unnest(string_split(text2, '')) AS u(c)
        |  GROUP BY 1, 2, 3
        |), ag AS (
        |  SELECT doc_id, count(*) AS n_distinct,
        |    round(CAST(
        |      CASE WHEN ln(sum(cnt))/ln(2) - sum(cnt * ln(cnt)/ln(2)) / sum(cnt) <= 0 THEN 0.0
        |           ELSE ln(sum(cnt))/ln(2) - sum(cnt * ln(cnt)/ln(2)) / sum(cnt) END
        |      AS DECIMAL(18,8)), 6) AS h6
        |  FROM cx GROUP BY 1
        |), ent AS (
        |  -- LEFT JOIN from t: an empty/zero-char doc produces no cx rows
        |  -- but must still band at (n_distinct=0, H=0), exactly as the
        |  -- engine's CharEntropyStats emits — the parity must not depend
        |  -- on the generator never emitting empty text
        |  SELECT t.doc_id, t.lang, coalesce(ag.n_distinct, 0) AS n_distinct,
        |         coalesce(ag.h6, 0) AS h6
        |  FROM t LEFT JOIN ag ON ag.doc_id = t.doc_id
        |)
        |SELECT lang, CAST(floor(h6) AS BIGINT) AS band, count(*)::BIGINT AS n_docs,
        |       CAST(round(CAST(avg(h6) AS DECIMAL(18,6)), 4) AS DOUBLE) AS avg_entropy,
        |       CAST(round(CAST(avg(n_distinct) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_distinct,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM ent GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t2 = when($"doc_id" % 11 === 0, expr("repeat('z', 200)"))
        .when($"doc_id" % 11 === 5, expr("repeat('spam ', 40)"))
        .otherwise($"text")
      val st = TextFunctions.charEntropyStats(t2)
      Tables(spark, dir).documents
        .select($"doc_id", $"lang", st.getField("n_distinct").as("n_distinct"),
          round(st.getField("entropy").cast(DecimalType(18, 8)), 6)
            .cast(DecimalType(18, 6)).as("h6"))
        .withColumn("band", floor($"h6").cast("long"))
        .groupBy($"lang", $"band")
        .agg(count(lit(1)).as("n_docs"),
          out(round(avg($"h6").cast(DecimalType(18, 6)), 4)).as("avg_entropy"),
          out(round(avg($"n_distinct").cast(DecimalType(18, 6)), 2)).as("avg_distinct"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"lang", $"band")
    },

    // ---- q124: incremental corpus-refresh admission (Decontamination
    // .batchNearDuplicateIds scaladoc) — the BATCH analog of the L8
    // streaming near-dedup: a derived refresh batch (exact copies,
    // lightly-edited copies, genuinely novel docs — first-match-wins
    // cohorts at ids +2000000) is admitted against the existing corpus
    // via bipartite MinHash-LSH with the batch as the broadcast side
    // and an exact-Jaccard refine at 0.5. The oracle recomputes exact
    // bipartite admission with the bitmap-popcount spelling; the flag
    // set is recall-robust (see incrementalOracle scaladoc). ----------
    QueryDef("q124_incremental_neardup", incrementalOracle(0.5)) { (spark, dir) =>
      refreshAdmission(spark, dir) { (a, batch) =>
        val u = a.withColumn("is_new", lit(false))
          .unionByName(batch.withColumn("is_new", lit(true)))
        graft.operators.Decontamination
          .batchNearDuplicateIds(u, "doc_id", "text", col("is_new"), threshold = 0.5)
      }
    },

    // ---- q126: leakage-aware train/val/test split — q62's md5 split
    // rule applied to the NEAR-DUP CLUSTER representative instead of the
    // document id, so a near-duplicate can never straddle train and
    // test (the classic eval-contamination leak of doc-level splitting;
    // Lee et al. 2021 §6.2 measure exactly this effect). Split is a
    // pure function of cluster_id — zero shuffles beyond the cluster
    // assignment itself; the two audit counts (cluster-level split
    // straddles MUST be 0; the doc-level rule's would-be leak count is
    // reported alongside) are cluster-cardinality metadata aggregates.
    // Oracle: the q56 cluster CTEs + the same split arithmetic. --------
    QueryDef(
      "q126_leakage_safe_split",
      s"""WITH $clusterCtes,
         |asg AS (
         |  SELECT d.doc_id, COALESCE($ClusterLabelRel.lbl, d.doc_id) AS cluster_id
         |  FROM $docRel d LEFT JOIN $ClusterLabelRel ON d.doc_id = $ClusterLabelRel.id
         |), s AS (
         |  SELECT doc_id, cluster_id,
         |    CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         |         WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS split,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS naive_split
         |  FROM asg
         |), strad AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT cluster_id FROM s GROUP BY 1 HAVING count(DISTINCT split) > 1)
         |), leaky AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT cluster_id FROM s GROUP BY 1 HAVING count(DISTINCT naive_split) > 1)
         |)
         |SELECT split, count(*)::BIGINT AS n_docs,
         |       count(DISTINCT cluster_id)::BIGINT AS n_clusters,
         |       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
         |       (SELECT n FROM strad)::BIGINT AS n_straddling,
         |       (SELECT n FROM leaky)::BIGINT AS n_leaky_naive
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = slicedDocs(spark, dir)
      val pairs = Dedup.jaccardPairs(Dedup.charShingles(docs, "doc_id", "text"), 0.7)
      val cl = Dedup.clusters(pairs)
      def splitOf(c: org.apache.spark.sql.Column) = {
        val h = substring(md5(c.cast("string")), 1, 2)
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
      }
      // ONE aggregation tree, one job: per-cluster rollup first (doc and
      // checksum partials plus the two audit distinct-counts ride the
      // same shuffle), then the per-split rollup, then the two global
      // audit scalars as an unbounded window over the 3-row aggregated
      // frame — metadata scale, no extra action, no cache. split is a
      // pure function of cluster_id, so grouping clusters by
      // splitOf(cluster_id) reproduces the doc-level split grouping
      // exactly (and n_straddling is structurally 0 — kept as a computed
      // audit, not a constant, so a regression fails the hash gate).
      val s = docs.select($"doc_id")
        .join(cl.withColumnRenamed("cluster_id", "__cl"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"__cl", $"doc_id").as("cluster_id"))
        .withColumn("split", splitOf($"cluster_id"))
        .withColumn("naive_split", splitOf($"doc_id"))
      val perCluster = s.groupBy($"cluster_id")
        .agg(count(lit(1)).as("__nd"),
          sum($"doc_id").cast("long").as("__ids"),
          countDistinct($"split").as("__nsp"),
          countDistinct($"naive_split").as("__nnv"))
      val wAll = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      perCluster.groupBy(splitOf($"cluster_id").as("split"))
        .agg(sum($"__nd").cast("long").as("n_docs"),
          count(lit(1)).as("n_clusters"),
          sum($"__ids").cast("long").as("id_checksum"),
          sum(when($"__nsp" > 1, 1L).otherwise(0L)).as("__str"),
          sum(when($"__nnv" > 1, 1L).otherwise(0L)).as("__lk"))
        .withColumn("n_straddling", sum($"__str").over(wAll))
        .withColumn("n_leaky_naive", sum($"__lk").over(wAll))
        .drop("__str", "__lk")
        .orderBy($"split")
    },

    // ---- q127: domain-blocklist URL filter (UrlFunctions.hostSuffixes
    // scaladoc) — the crawl-hygiene battery's other half next to q115's
    // canonicalization: "host ends with a blocked registrable domain" is
    // a NON-equi predicate that would plan as a nested loop against the
    // list; exploding each host's (≤ ~5-element) dot-suffix chain turns
    // it into a broadcast hash semi-join on the suffix key — shuffle-
    // free over the corpus side at any blocklist size. Hosts derived per
    // the q115 idiom, with a cdn. subdomain cohort so suffix matches at
    // depth 2 and 3 are both live. -------------------------------------
    QueryDef(
      "q127_url_blocklist",
      """WITH hosts(hid, h) AS (
        |  VALUES (0,'example.com'),(1,'sample.org'),(2,'demo.io'),(3,'media.example.net')
        |), d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN 'cdn.' || h ELSE h END AS host
        |  FROM documents JOIN hosts ON hid = doc_id % 4
        |), bl(dom) AS (VALUES ('example.com'),('demo.io'),('example.net')),
        |sfx AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(string_split(host, '.')) + 1),
        |           i -> array_to_string(string_split(host, '.')[i:], '.'))) AS s
        |  FROM d
        |), hit AS (SELECT DISTINCT sfx.doc_id FROM sfx JOIN bl ON s = dom)
        |SELECT d.host, (h.doc_id IS NOT NULL) AS blocked, count(*)::BIGINT AS n_docs,
        |       CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
        |FROM d LEFT JOIN hit h ON d.doc_id = h.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      import graft.functions.UrlFunctions
      val hosts = array(lit("example.com"), lit("sample.org"),
        lit("demo.io"), lit("media.example.net"))
      val base = element_at(hosts, ($"doc_id" % 4).cast("int") + 1)
      val d = Tables(spark, dir).documents.select($"doc_id",
        when($"doc_id" % 6 === 0, concat(lit("cdn."), base)).otherwise(base).as("host"))
      val bl = Seq("example.com", "demo.io", "example.net").toDF("dom")
      val hit = d.select($"doc_id", explode(UrlFunctions.hostSuffixes($"host")).as("s"))
        .join(broadcast(bl), $"s" === $"dom", "left_semi")
        .select($"doc_id").distinct()
        .withColumnRenamed("doc_id", "hid2")
      d.join(hit, $"doc_id" === $"hid2", "left")
        .groupBy($"host", $"hid2".isNotNull.as("blocked"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"doc_id").cast("long").as("id_checksum"))
        .orderBy($"host", $"blocked")
    },

    // ---- q128: cluster-survivor policy — when a near-dup cluster
    // collapses, WHICH member survives is a real pipeline knob (keep-
    // longest preserves the most content; keep-first is the usual
    // default). Survivors by (n_chars DESC, doc_id) rank within the q56
    // cluster assignment, with the min-id policy's kept-chars reported
    // alongside so the policy difference is itself gated. The per-
    // cluster window is bounded by near-dup cluster size (not corpus
    // size) — hot clusters are exactly what the LSH hot-bucket caps
    // bound upstream. ---------------------------------------------------
    QueryDef(
      "q128_cluster_survivors",
      s"""WITH $clusterCtes,
         |asg AS (
         |  SELECT d.doc_id, COALESCE($ClusterLabelRel.lbl, d.doc_id) AS cluster_id, d.n_chars
         |  FROM $docRel d LEFT JOIN $ClusterLabelRel ON d.doc_id = $ClusterLabelRel.id
         |), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn_minid
         |  FROM asg
         |)
         |SELECT count(*)::BIGINT AS n_docs,
         |       count(DISTINCT cluster_id)::BIGINT AS n_clusters,
         |       (count(*) - count(DISTINCT cluster_id))::BIGINT AS n_removed,
         |       CAST(sum(doc_id) FILTER (WHERE rn = 1) AS BIGINT) AS survivor_checksum,
         |       CAST(sum(n_chars) FILTER (WHERE rn = 1) AS BIGINT) AS kept_chars,
         |       CAST(sum(n_chars) FILTER (WHERE rn_minid = 1) AS BIGINT) AS minid_kept_chars
         |FROM r""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = slicedDocs(spark, dir)
      val pairs = Dedup.jaccardPairs(Dedup.charShingles(docs, "doc_id", "text"), 0.7)
      val cl = Dedup.clusters(pairs)
      val asg = docs.select($"doc_id", $"n_chars")
        .join(cl.withColumnRenamed("cluster_id", "__cl"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"__cl", $"doc_id").as("cluster_id"), $"n_chars")
      val wLongest = Window.partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id")
      val wMinId = Window.partitionBy($"cluster_id").orderBy($"doc_id")
      asg.withColumn("rn", row_number().over(wLongest))
        .withColumn("rn_minid", row_number().over(wMinId))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"cluster_id").as("n_clusters"),
          (count(lit(1)) - countDistinct($"cluster_id")).as("n_removed"),
          sum(when($"rn" === 1, $"doc_id")).cast("long").as("survivor_checksum"),
          sum(when($"rn" === 1, $"n_chars")).cast("long").as("kept_chars"),
          sum(when($"rn_minid" === 1, $"n_chars")).cast("long").as("minid_kept_chars"))
    },

    // ---- q129: token-budget corpus selection — the data-selection
    // step under a hard token budget: rank by quality DENSITY (distinct-
    // token ratio, 6dp-snapped), admit the greedy prefix whose windows
    // fit inside B = 16384 tokens. The global cumulative sum is the
    // keyed prefix sum with no keys (range-partitioned two-pass — the
    // same skew-proof machinery as q61's packing, here ordered by the
    // score instead of the id). -----------------------------------------
    QueryDef(
      "q129_token_budget",
      """WITH t AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, lang, len(ts) AS n_tok,
        |    round(CAST(len(list_distinct(ts)) * 1.0 / greatest(len(ts), 1) AS DECIMAL(18,8)), 6) AS density
        |  FROM t
        |), c AS (
        |  SELECT *,
        |    coalesce(sum(n_tok) OVER (ORDER BY density DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
        |  FROM d
        |), sel AS (SELECT * FROM c WHERE tok_before + n_tok <= 16384)
        |SELECT lang, count(*)::BIGINT AS n_selected,
        |       CAST(sum(n_tok) AS BIGINT) AS tok_selected,
        |       CAST(round(CAST(avg(density) AS DECIMAL(18,6)), 4) AS DOUBLE) AS avg_density,
        |       CAST(sum(doc_id) AS BIGINT) AS sel_checksum
        |FROM sel GROUP BY lang ORDER BY lang""",
    ) { (spark, dir) =>
      import spark.implicits._
      val ts = TextFunctions.tokens($"text")
      val d = Tables(spark, dir).documents
        .select($"doc_id", $"lang", size(ts).cast("long").as("n_tok"),
          round((size(array_distinct(ts)) * lit(1.0) /
            greatest(size(ts), lit(1))).cast(DecimalType(18, 8)), 6)
            .cast(DecimalType(18, 6)).as("density"))
      val c = graft.operators.SequencePacking.keyedPrefixSum(
        d, Nil, Seq($"density".desc, $"doc_id"), $"n_tok", "tok_before")
      c.filter($"tok_before" + $"n_tok" <= 16384L)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_selected"),
          sum($"n_tok").cast("long").as("tok_selected"),
          out(round(avg($"density").cast(DecimalType(18, 6)), 4)).as("avg_density"),
          sum($"doc_id").cast("long").as("sel_checksum"))
        .orderBy($"lang")
    },

    // ---- q130: the corpus-REFRESH pipeline composed end to end in one
    // query (the q63 idiom for the maintenance path): q118's snapshot
    // delta classifies the new export, then q124's bipartite admission
    // screens the changed/added docs against the retained corpus at
    // J >= 0.7 (the q76-proven threshold where banding recall ~ 1;
    // candidates ride a +2000000 id remap so the bipartite predicate is
    // an id-range test), and the final mixture is rolled up per
    // (source, status). Every stage is recomputed by the oracle, so the
    // COMPOSITION is hash-gated, not just its pieces. -------------------
    QueryDef(
      "q130_refresh_pipeline",
      s"""WITH a AS (SELECT doc_id, text, source FROM documents),
         |b AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 2 THEN text || ' edited' ELSE text END AS text,
         |         source
         |  FROM documents WHERE doc_id % 9 <> 3
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'new document ' || doc_id, source
         |  FROM documents WHERE doc_id % 13 = 5
         |), st AS (
         |  SELECT b.doc_id, b.text, b.source,
         |         CASE WHEN a.doc_id IS NULL THEN 'added'
         |              WHEN md5(a.text) <> md5(b.text) THEN 'changed'
         |              ELSE 'retained' END AS status
         |  FROM b LEFT JOIN a ON a.doc_id = b.doc_id
         |), u AS (
         |  SELECT doc_id, text FROM st WHERE status = 'retained'
         |  UNION ALL
         |  SELECT doc_id + 2000000, text FROM st WHERE status <> 'retained'
         |), ug AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, substr(lower(text), g.i::INT, 3) AS s
         |  FROM u, generate_series(1, 100000) g(i)
         |  WHERE g.i <= length(text) - 2
         |),
         |${bitmapInter("ug", lengthBand = Some(0.7),
            pairPred = "a.doc_id < 2000000 AND b.doc_id >= 2000000")},
         |flagged AS (
         |  SELECT DISTINCT x.db - 2000000 AS doc_id
         |  FROM inter x JOIN bm ba ON ba.doc_id = x.da JOIN bm bb ON bb.doc_id = x.db
         |  WHERE x.i * 1.0 / (ba.n + bb.n - x.i) >= 0.7
         |)
         |SELECT st.source, st.status, count(*)::BIGINT AS n_docs,
         |       count(f.doc_id)::BIGINT AS n_flagged,
         |       (count(*) - count(f.doc_id))::BIGINT AS n_final,
         |       CAST(coalesce(sum(st.doc_id) FILTER (WHERE f.doc_id IS NULL), 0) AS BIGINT) AS final_checksum
         |FROM st LEFT JOIN flagged f ON f.doc_id = st.doc_id AND st.status <> 'retained'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val a = Tables(spark, dir).documents.select($"doc_id", $"text", $"source")
      val edited = a.filter($"doc_id" % 9 =!= 3)
        .withColumn("text",
          when($"doc_id" % 7 === 2, concat($"text", lit(" edited"))).otherwise($"text"))
      val added = a.filter($"doc_id" % 13 === 5)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat(lit("new document "), $"doc_id".cast("string")).as("text"), $"source")
      val b = edited.unionByName(added)
      val st = b.join(a.select($"doc_id", md5($"text").as("__ah")), Seq("doc_id"), "left")
        .withColumn("status",
          when($"__ah".isNull, lit("added"))
            .when(md5($"text") =!= $"__ah", lit("changed"))
            .otherwise(lit("retained")))
        .drop("__ah")
      // admission rides the PERSISTED signature index over the retained
      // slice (built once per sf dir — ensureSigIndex): the probe is
      // O(batch + hits) against the on-disk members table, no retained-
      // corpus re-shingling per refresh, identical flag set to the
      // in-plan recompute (SignatureIndex scaladoc; q131 gates the same
      // equivalence against the exact oracle directly)
      val retained = st.filter($"status" === "retained").select($"doc_id", $"text")
      val batch = st.filter($"status" =!= "retained")
        .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
      val idx = ensureSigIndex(dir, "q130_retained")(retained)
      val flagged = graft.operators.SignatureIndex.probeNearDuplicateIds(
          spark, idx, retained, batch, "doc_id", "text", threshold = 0.7)
        .select(($"doc_id" - 2000000L).as("fid"))
      st.join(flagged,
          $"doc_id" === $"fid" && $"status" =!= "retained", "left")
        .groupBy($"source", $"status")
        .agg(count(lit(1)).as("n_docs"),
          count($"fid").as("n_flagged"),
          (count(lit(1)) - count($"fid")).as("n_final"),
          coalesce(sum(when($"fid".isNull, $"doc_id")), lit(0L))
            .cast("long").as("final_checksum"))
        .orderBy($"source", $"status")
    },

    // ---- q131: persisted-index batch admission (indexAdmission). The
    // oracle is the exact bipartite recompute (incrementalOracle at
    // 0.7), so the gate proves index-backed ≡ exact, not merely
    // index-backed ≡ the engine's own recompute. -----------------------
    QueryDef("q131_index_admission", incrementalOracle(0.7))(indexAdmission),

    // ---- q133: the FULL index-maintenance refresh loop — probe, admit,
    // APPEND, probe again. Round 1 admits batch B1 against the persisted
    // base index, probed as-of BEFORE its own append (excludeBatch — the
    // streaming trigger's replay contract — which also makes the query
    // idempotent across warm re-runs); its admitted docs are APPENDED as
    // the index's batch=0 component (SignatureIndex.append: O(batch)
    // work, the corpus epochs are never read), and round 2's batch B2
    // probes the grown index. The echo_new cohort near-duplicates ONLY
    // round-1 admissions, so its flags can come from nowhere but the
    // appended component — the gate that proves the append is live. At
    // 100 TB this is the refresh steady state: per-refresh cost is
    // O(batch + hits) probe + O(batch) append, never O(corpus). Oracle:
    // ONE exact bitmap-popcount pair space over corpus ∪ B1 ∪ B2, both
    // rounds' flag sets derived exactly (round 2's corpus membership =
    // base ∪ round-1 survivors). Pair-enumeration oracle → rides the
    // sf1 doc-slice differential like q124/q126 (docRel). -----
    QueryDef("q133_index_append",
      s"""WITH b1src AS (
         |  SELECT doc_id AS oid, text,
         |    CASE WHEN doc_id % 11 = 4 THEN 'near1' ELSE 'novel1' END AS cohort
         |  FROM $docRel
         |  WHERE doc_id % 11 = 4 OR doc_id % 17 = 6
         |), b1 AS (
         |  SELECT oid + 3000000 AS doc_id, cohort,
         |    CASE cohort WHEN 'near1' THEN text || ' r1'
         |      ELSE 'round one novel item ' || oid || ' with plenty of unseen filler content' END AS text
         |  FROM b1src
         |), b2src AS (
         |  SELECT doc_id AS oid, text,
         |    CASE WHEN doc_id % 11 = 4 THEN 'near_old'
         |         WHEN doc_id % 17 = 6 THEN 'echo_new'
         |         ELSE 'novel2' END AS cohort
         |  FROM $docRel
         |  WHERE doc_id % 11 = 4 OR doc_id % 17 = 6 OR doc_id % 19 = 7
         |), b2 AS (
         |  SELECT oid + 4000000 AS doc_id, cohort,
         |    CASE cohort WHEN 'near_old' THEN text || ' r2'
         |      WHEN 'echo_new' THEN 'round one novel item ' || oid || ' with plenty of unseen filler content redo'
         |      ELSE 'round two fresh item ' || oid || ' distinct payload' END AS text
         |  FROM b2src
         |), u AS (
         |  SELECT doc_id, text FROM $docRel
         |  UNION ALL SELECT doc_id, text FROM b1
         |  UNION ALL SELECT doc_id, text FROM b2
         |), ug AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, substr(lower(text), g.i::INT, 3) AS s
         |  FROM u, generate_series(1, 100000) g(i)
         |  WHERE g.i <= length(text) - 2
         |),
         |${bitmapInter("ug", lengthBand = Some(0.7),
              pairPred = "((a.doc_id < 3000000 AND b.doc_id >= 3000000) OR " +
                "(a.doc_id >= 3000000 AND a.doc_id < 4000000 AND b.doc_id >= 4000000))")},
         |jp AS MATERIALIZED (
         |  SELECT x.da, x.db
         |  FROM inter x JOIN bm ba ON ba.doc_id = x.da JOIN bm bb ON bb.doc_id = x.db
         |  WHERE x.i * 1.0 / (ba.n + bb.n - x.i) >= 0.7
         |),
         |flagged1 AS (
         |  SELECT DISTINCT db AS doc_id FROM jp
         |  WHERE da < 3000000 AND db >= 3000000 AND db < 4000000
         |),
         |flagged2 AS (
         |  SELECT DISTINCT db AS doc_id FROM jp
         |  WHERE db >= 4000000 AND (da < 3000000 OR
         |    da NOT IN (SELECT doc_id FROM flagged1))
         |),
         |r1 AS (
         |  SELECT 1 AS refresh_round, b1.cohort, count(*)::BIGINT AS n_batch,
         |         count(f.doc_id)::BIGINT AS n_flagged,
         |         (count(*) - count(f.doc_id))::BIGINT AS n_admitted,
         |         CAST(coalesce(sum(b1.doc_id) FILTER (WHERE f.doc_id IS NULL), 0) AS BIGINT) AS admitted_checksum
         |  FROM b1 LEFT JOIN flagged1 f ON f.doc_id = b1.doc_id
         |  GROUP BY 1, 2
         |), r2 AS (
         |  SELECT 2 AS refresh_round, b2.cohort, count(*)::BIGINT AS n_batch,
         |         count(f.doc_id)::BIGINT AS n_flagged,
         |         (count(*) - count(f.doc_id))::BIGINT AS n_admitted,
         |         CAST(coalesce(sum(b2.doc_id) FILTER (WHERE f.doc_id IS NULL), 0) AS BIGINT) AS admitted_checksum
         |  FROM b2 LEFT JOIN flagged2 f ON f.doc_id = b2.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |ORDER BY refresh_round, cohort""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      // gate-scoped 8 shuffle partitions (r13): both probe rounds work on
      // batch-sized frames (refresh batches, flagged sets, cohort
      // rollups) where 32-way exchanges are pure fixed cost; the heavy
      // per-batch work (shingle/minhash aggregation) is partition-count
      // invariant in result by the operator contract. Restored at the
      // end of the block; the returned frame is read back lazily after.
      withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      // cached: this body is the registry's most action-dense (two probe
      // rounds + append + rollup re-derive a and its b1/b2/corpus2
      // children ~8x); one materialization of the 2-column slice stops
      // every action re-running the scan(+fan-out exchange). Release
      // follows the session clearCache contract (Dedup.jaccardPairs).
      val a = slicedDocs(spark, dir).select($"doc_id", $"text").cache()
      val b1 = a.filter($"doc_id" % 11 === 4 || $"doc_id" % 17 === 6)
        .select(($"doc_id" + 3000000L).as("doc_id"),
          when($"doc_id" % 11 === 4, concat($"text", lit(" r1")))
            .otherwise(concat(lit("round one novel item "), $"doc_id".cast("string"),
              lit(" with plenty of unseen filler content"))).as("text"),
          when($"doc_id" % 11 === 4, lit("near1")).otherwise(lit("novel1")).as("cohort"))
      val b2 = a.filter(
          $"doc_id" % 11 === 4 || $"doc_id" % 17 === 6 || $"doc_id" % 19 === 7)
        .select(($"doc_id" + 4000000L).as("doc_id"),
          when($"doc_id" % 11 === 4, concat($"text", lit(" r2")))
            .when($"doc_id" % 17 === 6, concat(lit("round one novel item "),
              $"doc_id".cast("string"), lit(" with plenty of unseen filler content redo")))
            .otherwise(concat(lit("round two fresh item "), $"doc_id".cast("string"),
              lit(" distinct payload"))).as("text"),
          when($"doc_id" % 11 === 4, lit("near_old"))
            .when($"doc_id" % 17 === 6, lit("echo_new"))
            .otherwise(lit("novel2")).as("cohort"))
      val idx = ensureSigIndex(dir, "q133_base")(a)
      // Both probes join the members table as q131 does; round 1 reads
      // the index as-of before its own append (excludeBatch drops the
      // batch=0 a previous run wrote — the replay contract).
      // ONE shingle + signature derivation of b1 serves both the round-1
      // probe and the append of its admitted docs (r13: probe → admit →
      // append are one trigger; the append previously re-ran the full
      // O(batch) shingle+minhash pass over the admitted subset —
      // SignatureIndex.appendFromSignatures scaladoc)
      val cfg133 = graft.operators.SignatureIndex.Config()
      val sh1 = graft.operators.Dedup.charShingles(
        b1.drop("cohort"), "doc_id", "text", cfg133.shingleN).cache()
      val sig1 = graft.operators.MinHashLSH
        .signatures(sh1, cfg133.numPerms).cache()
      val flagged1 = graft.operators.SignatureIndex.probeNearDuplicateIds(
          spark, idx, a, b1.drop("cohort"), "doc_id", "text", threshold = 0.7,
          excludeBatch = Some(0L),
          preparedShingles = Some(sh1), preparedSignatures = Some(sig1))
        .withColumnRenamed("doc_id", "fid").cache()
      val admitted1 = b1.join(flagged1, $"doc_id" === $"fid", "left_anti")
        .select($"doc_id", $"text")
      graft.operators.SignatureIndex.appendFromSignatures(
        sig1.join(admitted1.select($"doc_id"), Seq("doc_id"), "left_semi"),
        idx, batchId = 0L)
      // round 2: the index now carries base ∪ admitted1; corpus2 only
      // supplies candidate TEXT (fetched by semi-join, never re-shingled
      // wholesale)
      val corpus2 = a.unionByName(admitted1)
      val flagged2 = graft.operators.SignatureIndex.probeNearDuplicateIds(
          spark, idx, corpus2, b2.drop("cohort"), "doc_id", "text", threshold = 0.7)
        .withColumnRenamed("doc_id", "fid")
      def roundStats(b: DataFrame, f: DataFrame, round: Int): DataFrame =
        b.join(f, $"doc_id" === $"fid", "left")
          .groupBy($"cohort")
          .agg(count(lit(1)).as("n_batch"), count($"fid").as("n_flagged"),
            (count(lit(1)) - count($"fid")).as("n_admitted"),
            coalesce(sum(when($"fid".isNull, $"doc_id")), lit(0L))
              .cast("long").as("admitted_checksum"))
          .withColumn("refresh_round", lit(round))
      val out = roundStats(b1, flagged1, 1).unionByName(roundStats(b2, flagged2, 2))
        .select($"refresh_round", $"cohort", $"n_batch", $"n_flagged",
          $"n_admitted", $"admitted_checksum")
        .orderBy($"refresh_round", $"cohort")
      // materialize under the trimmed setting: the probes/append above
      // already ran eagerly (collect/write); this forces the final
      // rollup too, so the restore below can't leak 32-way exchanges
      // into the caller's evaluation of the returned frame
      val rows = out.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
      }
    },

    // ---- q134: k-NN label classification (L3) — label the unlabeled pool
    // (every 20th vector plays "unlabeled") by majority vote among its 5
    // nearest labeled neighbors; score tie-breaks are DECIMAL-exact sums of
    // 4dp cosines so both engines agree bit-for-bit. ----------------------
    QueryDef(
      "q134_knn_classify",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |n AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS nlabel,
        |         CAST(round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS DECIMAL(18,4)) AS cos
        |  FROM n q JOIN n c ON q.vec_id % 20 = 3 AND c.vec_id % 20 <> 3
        |), r AS (
        |  SELECT qid, cid, nlabel, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM p
        |), v AS (
        |  SELECT qid, nlabel, count(*)::BIGINT AS votes, sum(cos) AS score
        |  FROM r WHERE rn <= 5 GROUP BY qid, nlabel
        |), w AS (
        |  SELECT qid, nlabel, votes, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY votes DESC, score DESC, nlabel) AS vr
        |  FROM v
        |)
        |SELECT w.qid, w.nlabel AS pred_label, w.votes,
        |       CAST(w.score AS DOUBLE) AS score,
        |       t.label AS true_label,
        |       CAST(w.nlabel = t.label AS INT) AS correct
        |FROM w JOIN e t ON t.vec_id = w.qid
        |WHERE w.vr = 1 ORDER BY qid""",
    ) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
      val pred = SimilaritySearch.knnClassify(
        e.filter($"vec_id" % 20 === 3), e.filter($"vec_id" % 20 =!= 3),
        "vec_id", "embedding", "label", k = 5)
      pred.join(e.select($"vec_id".as("qid"), $"label".as("true_label")), Seq("qid"))
        .select($"qid", $"pred_label", $"votes", out($"score").as("score"),
          $"true_label", ($"pred_label" === $"true_label").cast("int").as("correct"))
        .orderBy($"qid")
    },

    // ---- q135: incremental IVF maintenance (L3) — append a held-out batch
    // to the persisted index (frozen centroids, new `appends/batch=0`
    // component, no retrain, O(batch) work) and read it back through
    // load(). The oracle recomputes each appended vector's argmin cell
    // from the dumped centroid table — identical IEEE expression order on
    // both sides, so the assignment is gated bit-for-bit. ----------------
    QueryDef(
      "q135_ivf_append",
      s"""WITH b AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE vec_id % 10 = 7
         |), c AS (
         |  SELECT cell, cv FROM read_parquet('$IvfCentroidsExpected/*.parquet')
         |), d AS (
         |  SELECT b.vec_id, c.cell,
         |         list_inner_product(b.v, b.v) - 2 * list_inner_product(b.v, c.cv)
         |           + list_inner_product(c.cv, c.cv) AS d2
         |  FROM b CROSS JOIN c
         |), r AS (
         |  SELECT vec_id, cell, d2,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM d
         |)
         |SELECT vec_id, cell,
         |       CAST(CAST(round(d2, 4) AS DECIMAL(18,4)) AS DOUBLE) AS d2,
         |       1 AS readback_ok
         |FROM r WHERE rn = 1 ORDER BY vec_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
      val batch = e.filter($"vec_id" % 10 === 7)
      val idx = ensureIvfBaseIndex(spark, dir)
      graft.operators.IvfIndex.append(batch, "vec_id", "embedding", idx, batchId = 0L)
      val m = graft.operators.IvfIndex.load(spark, idx)
      val assigned = graft.operators.IvfIndex
        .assign(batch, "vec_id", "embedding", m.centroids)
        .select($"id".as("vec_id"), $"cell",
          out(round($"d2", 4).cast(DecimalType(18, 4))).as("d2"))
      // read-back: the appended component must carry exactly these
      // (id, cell) rows — gate it as a per-row flag riding the output
      val readBack = m.assignments.join(batch.select($"vec_id".as("id")), Seq("id"))
        .select($"id".as("vec_id"), $"cell".as("rb_cell"))
      assigned.join(readBack, Seq("vec_id"), "left")
        .select($"vec_id", $"cell", $"d2",
          when($"rb_cell" === $"cell", 1).otherwise(0).as("readback_ok"))
        .orderBy($"vec_id")
    },

    // ---- q136: shard-built index MERGE (L2/L7) — the distributed build
    // story: each corpus shard derives its own signature index in
    // parallel (the expensive O(shard) text derivation), and the merge
    // is a byte-level union of already-derived index rows — no text
    // read, no signature recomputed. The gate: probing the MERGED index
    // admits the identical batch flag set as the exact bipartite
    // recompute (same oracle as q131), so merged ≡ whole-built ≡ exact.
    QueryDef("q136_index_merge", incrementalOracle(0.7)) { (spark, dir) =>
      import spark.implicits._
      val a = Tables(spark, dir).documents.select($"doc_id", $"text")
      val cohort = when($"doc_id" % 9 === 3, lit("exact"))
        .when($"doc_id" % 7 === 2, lit("near"))
        .when($"doc_id" % 13 === 5, lit("novel"))
      val b = a.withColumn("cohort", cohort).filter($"cohort".isNotNull)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          when($"cohort" === "exact", $"text")
            .when($"cohort" === "near", concat($"text", lit(" edited")))
            .otherwise(concat(lit("fresh item "), $"doc_id".cast("string"),
              lit(" unseen content"))).as("text"),
          $"cohort")
      val idx = ensureMergedSigIndex(spark, dir)
      val flagged = graft.operators.SignatureIndex.probeNearDuplicateIds(
          spark, idx, a, b.drop("cohort"), "doc_id", "text", threshold = 0.7)
        .withColumnRenamed("doc_id", "fid")
      b.join(flagged, $"doc_id" === $"fid", "left")
        .groupBy($"cohort")
        .agg(count(lit(1)).as("n_batch"),
          count($"fid").as("n_flagged"),
          (count(lit(1)) - count($"fid")).as("n_admitted"),
          coalesce(sum(when($"fid".isNull, $"doc_id")), lit(0L))
            .cast("long").as("admitted_checksum"))
        .orderBy($"cohort")
    },

    // ---- q137: hybrid retrieval via reciprocal-rank fusion (L3/L4) —
    // lexical BM25 top-10 per head term fused with embedding-cosine
    // top-10 per probe (query i = i-th head term + probe vec i). The
    // corpus-scale work lives in the two retrieval operators; the fusion
    // is a metadata-scale exact-integer groupBy (Rrf scaladoc). --------
    QueryDef(
      "q137_hybrid_rrf",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(ts) AS tok, len(ts) AS dl FROM tok
        |), terms AS (
        |  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) - 1 AS qid
        |  FROM (SELECT tok, count(*) AS c FROM t GROUP BY tok ORDER BY c DESC, tok LIMIT 5)
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl FROM tok
        |), tf AS (
        |  SELECT t.tok AS term, doc_id, count(*)::DOUBLE AS tf, min(dl)::DOUBLE AS dl
        |  FROM t JOIN terms ON t.tok = terms.tok GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.term, tf.doc_id,
        |         ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS score
        |  FROM tf CROSS JOIN stats JOIN df ON tf.term = df.term
        |), lex AS (
        |  SELECT terms.qid, scored.doc_id AS id,
        |         row_number() OVER (PARTITION BY scored.term ORDER BY score DESC, doc_id) AS rank
        |  FROM scored JOIN terms ON scored.term = terms.tok
        |  QUALIFY rank <= 10
        |), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |nv AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |         round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
        |  FROM nv q JOIN nv c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
        |), sem AS (
        |  SELECT qid, cid AS id,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |  FROM p QUALIFY rank <= 10
        |), allc AS (
        |  SELECT qid, id, CAST(floor(1000000000000.0 / (60 + rank)) AS BIGINT) AS c FROM lex
        |  UNION ALL
        |  SELECT qid, id, CAST(floor(1000000000000.0 / (60 + rank)) AS BIGINT) AS c FROM sem
        |), f AS (
        |  SELECT qid, id, CAST(sum(c) AS BIGINT) AS rrf_scaled, count(*)::BIGINT AS n_lists
        |  FROM allc GROUP BY 1, 2
        |)
        |SELECT f.qid, terms.tok AS term,
        |       row_number() OVER (PARTITION BY f.qid ORDER BY rrf_scaled DESC, id) AS fused_rank,
        |       id, rrf_scaled, n_lists
        |FROM f JOIN terms ON terms.qid = f.qid
        |QUALIFY fused_rank <= 5 ORDER BY f.qid, fused_rank""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val e = Tables(spark, dir).embeddings
      val terms = graft.operators.Bm25.topTerms(docs, "text", 5)
      val termQ = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("term", "qid")
      val lex = graft.operators.Bm25.topK(docs, "doc_id", "text", terms, 10)
        .join(broadcast(termQ), Seq("term"))
        .select($"qid", $"doc_id".as("id"), $"rnk".as("rank"))
      val sem = graft.operators.SimilaritySearch
        .topK(e.filter($"vec_id" < 5), e, "vec_id", "embedding", 10)
        .select($"qid", $"cid".as("id"), $"rn".cast("long").as("rank"))
      graft.operators.Rrf.fuse(Seq(lex, sem), k = 5)
        .join(broadcast(termQ), Seq("qid"))
        .select($"qid", $"term", $"fused_rank", $"id", $"rrf_scaled", $"n_lists")
        .orderBy($"qid", $"fused_rank")
    },

    // ---- q138: classifier threshold calibration (L4) — precision/recall
    // sweep of the q96 hashed quality classifier against a reference
    // label, every comparison in exact BIGINT arithmetic (calibrate
    // scaladoc) so no document can drift across a threshold between
    // engines. One pass over the scored frame; only |grid| rows shuffle.
    QueryDef(
      "q138_classifier_calibration",
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts,
        |         length(text) >= 200 AS truth
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, truth, len(ts)::BIGINT AS n_tokens,
        |         CAST(coalesce(list_sum(list_transform(ts, tok ->
        |           ('0x' || substr(md5('w_' || tok), 1, 8))::BIGINT % 2001 - 1000)), 0) AS BIGINT)
        |           AS weight_sum
        |  FROM t WHERE len(ts) > 0
        |), g AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS thr_tenths), j AS (
        |  SELECT thr_tenths, weight_sum * 10 >= thr_tenths * 1000 * n_tokens AS pred, truth
        |  FROM s CROSS JOIN g
        |), c AS (
        |  SELECT thr_tenths,
        |         sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END)::BIGINT AS tp,
        |         sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END)::BIGINT AS fp,
        |         sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END)::BIGINT AS fn,
        |         sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END)::BIGINT AS tn
        |  FROM j GROUP BY 1
        |)
        |SELECT thr_tenths, tp, fp, fn, tn,
        |       CASE WHEN tp + fp > 0 THEN CAST((tp * 1000000) // (tp + fp) AS BIGINT) END AS precision_ppm,
        |       CASE WHEN tp + fn > 0 THEN CAST((tp * 1000000) // (tp + fn) AS BIGINT) END AS recall_ppm
        |FROM c ORDER BY thr_tenths""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val scored = graft.operators.QualityClassifier.score(docs, "doc_id", "text")
        .join(docs.select($"doc_id", (length($"text") >= 200).as("truth")), Seq("doc_id"))
      graft.operators.QualityClassifier
        .calibrate(scored, $"truth", Seq(-3, -2, -1, 0, 1, 2, 3))
    },

    // ---- q139: horizon-scoped near-dedup (MinHashLSH
    // .temporalNearDuplicatePairs scaladoc) — rolling-corpus dedup where
    // a pair only counts within a 14-day ingest window. The engine
    // extends the LSH band key with a horizon-width time cell
    // (replicated to the adjacent cell), so buckets hold ~2 windows of
    // data regardless of corpus age — the post-filter spelling's buckets
    // grow with AGE and that is what this operator exists to avoid. The
    // oracle is cell-blind: exact bitmap-popcount pairs, exact gap
    // predicate — gating that the cell bucketing loses NO in-window
    // pair. Ingest day is a deterministic doc_id spread (37 is coprime
    // to 365, so ids sweep all days); pair-enumeration oracle => sliced
    // tier at sf1 like q35/q35b. -----------------------------------
    QueryDef(
      "q139_temporal_neardup",
      s"""WITH day AS (SELECT doc_id, (doc_id * 37) % 365 AS d FROM $docRel),
         |$shingleCte,
         |${bitmapInter("sh", lengthBand = Some(0.7))}
         |SELECT da, db,
         |       CAST(CAST(round(i * 1.0 / (sa.n + sb.n - i), 4) AS DECIMAL(18,4)) AS DOUBLE) AS jaccard,
         |       CAST(abs(ya.d - yb.d) AS BIGINT) AS t_gap
         |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
         |JOIN day ya ON ya.doc_id = da JOIN day yb ON yb.doc_id = db
         |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7 AND abs(ya.d - yb.d) <= 14
         |ORDER BY da, db""",
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = slicedDocs(spark, dir)
      val ts = docs.select($"doc_id", (($"doc_id" * 37) % 365).as("t"))
      graft.operators.MinHashLSH
        .temporalNearDuplicatePairs(
          graft.operators.Dedup.charShingles(docs, "doc_id", "text"),
          ts, horizon = 14L, threshold = 0.7)
        .select($"da", $"db", dec($"jaccard", 4).as("jaccard"),
          $"t_gap".cast("long").as("t_gap"))
        .orderBy($"da", $"db")
    },

    // ---- q140: positional phrase search (PhraseSearch scaladoc) — a
    // 5-phrase batch (3-token, 2-token, a repeated-token phrase whose
    // occurrences can overlap, and a guaranteed-zero-hit phrase that
    // must still report a 0 row) resolved in ONE broadcast join + ONE
    // groupBy over the positional postings. The oracle spells the
    // classic per-offset positional join; the engine's start-voting
    // aggregate must reach the identical occurrence set. -------------
    QueryDef(
      "q140_phrase_search",
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, g.i AS pos, ts[g.i::INT] AS tok
        |  FROM t, generate_series(1, 100000) g(i) WHERE g.i <= len(ts)
        |), ph(pid, w1, w2, w3) AS (
        |  VALUES (0, 'scan', 'query', 'big'), (1, 'table', 'table', NULL),
        |         (2, 'fast', 'sort', NULL), (3, 'value', 'table', 'part'),
        |         (4, 'zebra', 'unicorn', NULL)
        |), m AS (
        |  SELECT ph.pid, a.doc_id, a.pos
        |  FROM ph
        |  JOIN p a ON a.tok = ph.w1
        |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok = ph.w2
        |  LEFT JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.tok = ph.w3
        |  WHERE ph.w3 IS NULL OR c.pos IS NOT NULL
        |)
        |SELECT ph.pid, count(m.doc_id)::BIGINT AS n_matches,
        |       count(DISTINCT m.doc_id)::BIGINT AS n_docs,
        |       CAST(coalesce(sum(m.pos), 0) AS BIGINT) AS pos_checksum,
        |       CAST(coalesce(sum(m.doc_id), 0) AS BIGINT) AS id_checksum
        |FROM ph LEFT JOIN m ON m.pid = ph.pid
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val phrases = Seq(
        0 -> Seq("scan", "query", "big"), 1 -> Seq("table", "table"),
        2 -> Seq("fast", "sort"), 3 -> Seq("value", "table", "part"),
        4 -> Seq("zebra", "unicorn"))
      val docs = Tables(spark, dir).documents
      val m = graft.operators.PhraseSearch.search(
        graft.operators.PhraseSearch.postings(docs, "doc_id", "text"), phrases)
      phrases.map(_._1).toDF("pid")
        .join(m, Seq("pid"), "left")
        .groupBy($"pid")
        .agg(count($"doc_id").as("n_matches"),
          countDistinct($"doc_id").as("n_docs"),
          coalesce(sum($"start"), lit(0L)).cast("long").as("pos_checksum"),
          coalesce(sum($"doc_id"), lit(0L)).cast("long").as("id_checksum"))
        .orderBy($"pid")
    },

    // ---- q141: tall-skinny PCA moment matrix (Pca scaladoc) — the
    // data-scale half of distributed PCA: N×64 float rows reduced to
    // the 64 first-order sums + 2080 upper-triangle second moments in
    // ONE pass with exact integer arithmetic over floor(x·1e9)
    // fixed-point quanta (order-free => identical under any
    // partitioning, AQE re-plan, or the oracle's completely different
    // derivation; a float→DECIMAL cast is NOT portable — Spark rounds
    // the shortest string repr, SQL engines the binary value, and the
    // 2x tier's perturbed embeddings hit a near-tie mantissa where
    // they disagree). The oracle spells the naive explode + self-join;
    // the engine's per-row product array + partial-agg groupBy must
    // land on identical integers. The d×d eigensolve on this summary
    // is driver-side metadata work (PcaSpec). -----------------------
    QueryDef("q141_pca_moments", pcaMomentsOracle) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Pca
        .moments(Tables(spark, dir).embeddings, "embedding", d = 64)
        .select(pcaSplitCols(spark): _*)
        .orderBy($"i", $"j")
    },

    // ---- q142: sharded PCA moment maintenance (Pca.merge scaladoc) —
    // the incremental path: two disjoint embedding shards summarized
    // independently, merged by pure d²/2-row re-aggregation (no vector
    // revisited), hash-gated against the SAME whole-corpus oracle as
    // q141. Integer-sum associativity makes merged ≡ single-pass an
    // exact identity, and the gate proves it, not the scaladoc. ------
    QueryDef("q142_pca_merge", pcaMomentsOracle) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
      val shards = Seq(e.filter($"vec_id" % 2 === 0), e.filter($"vec_id" % 2 =!= 0))
        .map(graft.operators.Pca.moments(_, "embedding", d = 64))
      graft.operators.Pca.merge(shards)
        .select(pcaSplitCols(spark): _*)
        .orderBy($"i", $"j")
    },

    // ---- q143: vocabulary coverage curve — the tokenizer-sizing
    // question ("how many types cover P% of token occurrences?"). The
    // corpus-scale work is ONE token-count aggregation; the coverage
    // curve is a GLOBAL prefix sum over the (cnt DESC, tok) total order,
    // which the textbook spelling runs as a single-task global window —
    // a non-starter when the vocabulary is billions of n-gram types.
    // Both the cumulative count and the rank ride the range-partitioned
    // keyedPrefixSum (no keys => one global group split across tasks);
    // the grand total is max(cum), a broadcast 1-row frame, never a
    // driver scalar. All-integer arithmetic (cum·100 >= pct·total) keeps
    // the crossing points exact, so the gate pins the distributed sums
    // AND the binary (cnt, tok) tie order against the oracle's window
    // derivation. ---------------------------------------------------
    QueryDef(
      "q143_vocab_coverage",
      """WITH tok AS (
        |  SELECT t.tok FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> ''
        |), tf AS (SELECT tok, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
        |o AS (
        |  SELECT cnt,
        |         sum(cnt) OVER (ORDER BY cnt DESC, tok) AS cum,
        |         row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
        |  FROM tf
        |), t AS (SELECT sum(cnt) AS total FROM tf)
        |SELECT p.pct::BIGINT AS pct, min(rnk)::BIGINT AS vocab_size,
        |       min(cum)::BIGINT AS covered_tokens
        |FROM o, t, (VALUES (50),(90),(99)) p(pct)
        |WHERE cum * 100 >= p.pct * t.total
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val tf = Tables(spark, dir).documents
        .select(explode(TextFunctions.alphaTokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val order = Seq($"cnt".desc, $"tok")
      val ranked = graft.operators.SequencePacking.keyedPrefixSum(
        graft.operators.SequencePacking.keyedPrefixSum(
          tf, Nil, order, $"cnt", "cum_before"),
        Nil, order, lit(1L), "rank_before")
        .select(($"cum_before" + $"cnt").as("cum"), ($"rank_before" + 1L).as("rnk"))
      val total = ranked.agg(max($"cum").as("total"))
      ranked.crossJoin(broadcast(total))
        .select(explode(array(lit(50L), lit(90L), lit(99L))).as("pct"),
          $"cum", $"rnk", $"total")
        .filter($"cum" * 100L >= $"pct" * $"total")
        .groupBy($"pct")
        .agg(min($"rnk").as("vocab_size"), min($"cum").as("covered_tokens"))
        .orderBy($"pct")
    },

    // ---- q144: grouped top-k via the bounded-heap partial aggregate
    // (TopK scaladoc) — the scale-superior spelling of q21's window
    // rank: the Aggregator's reduce/merge ARE the map-side/shuffle-side
    // combines, so each partition ships ≤ k pairs per group instead of
    // a hot group's entire history crossing the wire to one sort task.
    // Gate: identical rows to the oracle's row_number derivation,
    // including the (score DESC, doc_id ASC) tie order the buffer
    // maintains. -----------------------------------------------------
    QueryDef(
      "q144_grouped_topk",
      """WITH r AS (
        |  SELECT source, doc_id, length(text)::BIGINT AS score,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY length(text) DESC, doc_id) AS rnk
        |  FROM documents
        |)
        |SELECT source, rnk::BIGINT AS rank, score, doc_id AS id
        |FROM r WHERE rnk <= 5 ORDER BY source, rank""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.TopK.perGroup(
          Tables(spark, dir).documents
            .select($"source", length($"text").as("score"), $"doc_id"),
          Seq("source"), $"score", $"doc_id", k = 5)
        .orderBy($"source", $"rank")
    },

    // ---- q145: adjacent-bigram collocation lift (Cooccurrence
    // scaladoc). Bigrams are built row-locally (zip_with over two
    // slices — no positional self-join), the pair count is the only
    // corpus-sized shuffle, and marginals come off the cached
    // vocab²-bounded pair frame. Lift is emitted as an exact-integer
    // ppm floor quotient so the gate is log-free and bit-stable. -----
    QueryDef(
      "q145_bigram_lift",
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS arr
        |  FROM documents
        |), big AS (
        |  SELECT z.p[1] AS l, z.p[2] AS r
        |  FROM toks, unnest([[arr[i], arr[i+1]] for i in range(1, len(arr))]) z(p)
        |), pc AS (
        |  SELECT l, r, count(*)::BIGINT AS n_pair FROM big GROUP BY 1, 2
        |), tot AS (SELECT sum(n_pair)::HUGEINT AS n FROM pc),
        |lm AS (SELECT l, sum(n_pair)::HUGEINT AS n_l FROM pc GROUP BY 1),
        |rm AS (SELECT r, sum(n_pair)::HUGEINT AS n_r FROM pc GROUP BY 1)
        |SELECT pc.l AS tok_l, pc.r AS tok_r, pc.n_pair,
        |       ((pc.n_pair::HUGEINT * tot.n * 1000000) // (lm.n_l * rm.n_r))::BIGINT AS lift_ppm
        |FROM pc CROSS JOIN tot JOIN lm ON pc.l = lm.l JOIN rm ON pc.r = rm.r
        |WHERE pc.n_pair >= 5
        |ORDER BY pc.n_pair DESC, tok_l, tok_r LIMIT 100""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Cooccurrence.bigramLift(
        Tables(spark, dir).documents,
        graft.functions.TextFunctions.alphaTokens($"text"),
        minCount = 5L, topN = 100)
    },

    // ---- q146: sorted-neighborhood SimHash near-dup (SimHash
    // .sortedNeighborhoodPairs scaladoc; Manku et al. '07). A THIRD
    // near-dup discovery shape next to banding (q34c) and MinHash-LSH
    // (q35b): sort signatures by unsigned value, compare each doc to
    // its 6 successors — O(N·w) with NO buckets and NO hot-key caps,
    // and unlike the all-pairs q34c oracle this one is linear on the
    // oracle side too (rank offset join), so it gates unsliced at sf1.
    // The global rank is the distributed prefix sum, not a one-task
    // window. -------------------------------------------------------
    QueryDef(
      "q146_sorted_neighborhood",
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, t.tok FROM documents, unnest(string_split(text, ' ')) t(tok)
        |  WHERE t.tok <> ''
        |), bits AS (
        |  SELECT doc_id, g.p::INT AS pos,
        |         ((strpos('0123456789abcdef', substr(md5(tok), (g.p::INT // 4) + 1, 1)) - 1)
        |           >> (3 - (g.p::INT % 4))) & 1 AS bit
        |  FROM tok, generate_series(0, 63) g(p)
        |), sim AS (
        |  SELECT doc_id, pos, CASE WHEN sum(2 * bit - 1) >= 0 THEN 1 ELSE 0 END AS sbit
        |  FROM bits GROUP BY doc_id, pos
        |), sig AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN pos < 32 THEN sbit::BIGINT << pos ELSE 0 END)::BIGINT AS lo,
        |         sum(CASE WHEN pos >= 32 THEN sbit::BIGINT << (pos - 32) ELSE 0 END)::BIGINT AS hi
        |  FROM sim GROUP BY doc_id
        |), rk AS (
        |  SELECT doc_id, lo, hi, row_number() OVER (ORDER BY hi, lo, doc_id) AS rnk FROM sig
        |)
        |SELECT least(a.doc_id, b.doc_id) AS da, greatest(a.doc_id, b.doc_id) AS db,
        |       (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::BIGINT AS h
        |FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 6
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY da, db""",
    ) { (spark, dir) =>
      import spark.implicits._
      SimHash.sortedNeighborhoodPairs(
          Tables(spark, dir).documents, "doc_id", "text", window = 6, maxDist = 3)
        .orderBy($"da", $"db")
    },

    // ---- q147: exact top-20 tokens via Misra-Gries candidates + exact
    // recount (HeavyHitters scaladoc) — the vocabulary-unbounded
    // respelling of q37's full groupBy: two corpus scans, and the only
    // shuffle carries candidate keys (<= capacity x #partitions), not
    // one row per distinct token per partition. Certified exact while
    // the 20th count exceeds N/capacity (asserted in spec). ----------
    QueryDef(
      "q147_heavy_hitters",
      """WITH tok AS (
        |  SELECT t.tok FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> ''
        |)
        |SELECT tok, count(*)::BIGINT AS n FROM tok GROUP BY tok
        |ORDER BY n DESC, tok LIMIT 20""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.HeavyHitters.exactTopK(
        Tables(spark, dir).documents
          .select(explode(graft.functions.TextFunctions.alphaTokens($"text")).as("key")),
        "key", k = 20, capacity = 4096)
    },

    // ---- q148: per-dimension robust embedding stats via DISTRIBUTED
    // SELECTION (EmbeddingStats scaladoc): exact quartiles + IQR-fence
    // outlier counts without a percentile aggregate — grouping by
    // dimension is the PARTITION-BY-few-groups trap (d hot reducers
    // each materializing 10^9 values at 100 TB), so the order
    // statistics come from prefix-sum ranks and only the <= 2 boundary
    // rows per (dim, quantile) reach the aggregate. Interpolation is
    // pinned to quantile_cont's v_lo*(1-frac)+v_hi*frac convention,
    // verified bit-for-bit, so DOUBLE outputs hash-gate exactly. ------
    QueryDef(
      "q148_embedding_quartiles",
      """WITH v AS (
        |  SELECT g.i - 1 AS dim, embedding[g.i]::DOUBLE AS val
        |  FROM embeddings, generate_series(1, 4096) g(i)
        |  WHERE g.i <= len(embedding)
        |), q AS (
        |  SELECT dim, count(*)::BIGINT AS n,
        |         quantile_cont(val, 0.25) AS p25,
        |         quantile_cont(val, 0.5) AS p50,
        |         quantile_cont(val, 0.75) AS p75
        |  FROM v GROUP BY dim
        |)
        |SELECT q.dim, q.n, q.p25, q.p50, q.p75,
        |       sum(CASE WHEN v.val < q.p25 - 1.5 * (q.p75 - q.p25)
        |                  OR v.val > q.p75 + 1.5 * (q.p75 - q.p25)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM v JOIN q ON v.dim = q.dim
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY q.dim""",
    ) { (spark, dir) =>
      graft.operators.EmbeddingStats.dimRobustStats(
        Tables(spark, dir).embeddings, "vec_id", "embedding")
    },

    // ---- q150: cross-source vocabulary overlap matrix (Cooccurrence
    // .vocabOverlap scaladoc): pairwise vocab Jaccard in exact ppm —
    // the mixture/dedup-across-sources diagnostic. One distinct
    // (source, token) shuffle; the per-token group set is bounded by
    // the source count, its pair expansion row-local; sizes broadcast.
    // Nothing is vocab x vocab. ---------------------------------------
    QueryDef(
      "q150_vocab_overlap",
      """WITH ts AS (
        |  SELECT DISTINCT source, t.tok
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) t(tok)
        |  WHERE t.tok <> ''
        |), sz AS (SELECT source, count(*)::HUGEINT AS n FROM ts GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*)::HUGEINT AS i
        |  FROM ts a JOIN ts b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT sa, sb, i::BIGINT AS n_inter,
        |       ((i * 1000000) // (za.n + zb.n - i))::BIGINT AS jaccard_ppm
        |FROM inter JOIN sz za ON za.source = sa JOIN sz zb ON zb.source = sb
        |ORDER BY sa, sb""",
    ) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Cooccurrence.vocabOverlap(
        Tables(spark, dir).documents,
        $"source", graft.functions.TextFunctions.alphaTokens($"text"))
    },

    // ---- q152: MULTI-ROTATION sorted neighborhood (SimHash
    // .sortedNeighborhoodPairsRotated; the full Manku '07 scheme). One
    // ordering misses pairs whose differing bits are high-order; the
    // 16-bit-rotated second pass re-sorts with that region moved down,
    // recovering them (q146 finds 284 pairs at sf0.001 — this finds
    // 385 from the same signatures). Signatures computed once (cached),
    // each pass linear, duplicates removed post-refine. --------------
    QueryDef(
      "q152_rotated_neighborhood",
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, t.tok FROM documents, unnest(string_split(text, ' ')) t(tok)
        |  WHERE t.tok <> ''
        |), bits AS (
        |  SELECT doc_id, g.p::INT AS pos,
        |         ((strpos('0123456789abcdef', substr(md5(tok), (g.p::INT // 4) + 1, 1)) - 1)
        |           >> (3 - (g.p::INT % 4))) & 1 AS bit
        |  FROM tok, generate_series(0, 63) g(p)
        |), sim AS (
        |  SELECT doc_id, pos, CASE WHEN sum(2 * bit - 1) >= 0 THEN 1 ELSE 0 END AS sbit
        |  FROM bits GROUP BY doc_id, pos
        |), sig AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN pos < 32 THEN sbit::BIGINT << pos ELSE 0 END)::BIGINT AS lo,
        |         sum(CASE WHEN pos >= 32 THEN sbit::BIGINT << (pos - 32) ELSE 0 END)::BIGINT AS hi
        |  FROM sim GROUP BY doc_id
        |), rot AS (
        |  SELECT 0 AS pass, doc_id, lo, hi, lo AS klo, hi AS khi FROM sig
        |  UNION ALL
        |  SELECT 1 AS pass, doc_id, lo, hi,
        |         ((lo << 16) | (hi >> 16)) & 4294967295 AS klo,
        |         ((hi << 16) | (lo >> 16)) & 4294967295 AS khi
        |  FROM sig
        |), rk AS (
        |  SELECT pass, doc_id, lo, hi,
        |         row_number() OVER (PARTITION BY pass ORDER BY khi, klo, doc_id) AS rnk
        |  FROM rot
        |)
        |SELECT DISTINCT least(a.doc_id, b.doc_id) AS da, greatest(a.doc_id, b.doc_id) AS db,
        |       (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::BIGINT AS h
        |FROM rk a JOIN rk b ON a.pass = b.pass AND b.rnk > a.rnk AND b.rnk <= a.rnk + 6
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY da, db""",
    ) { (spark, dir) =>
      import spark.implicits._
      SimHash.sortedNeighborhoodPairsRotated(
          Tables(spark, dir).documents, "doc_id", "text",
          window = 6, maxDist = 3, rotations = 2)
        .orderBy($"da", $"db")
    },

    // ---- q154: PCA eigensolve gate (Pca.eigen) — the q141 follow-on:
    // the driver-side Jacobi on the d×d covariance cannot be
    // recomputed by a SQL oracle, so the gate rides ORTHOGONAL
    // INVARIANTS. The hash-gated half is EXACT INTEGER arithmetic over
    // the moments (no double summation order, no rounding-boundary
    // flake — the r9 ROUND(double, 6) spelling could flip its 6th
    // decimal when the two engines' sum orders landed a trace near a
    // 5e-7 boundary): with t_ij = n·m2_ij − m1_i·m1_j (so C_ij =
    // t_ij·10⁻¹⁸/(n(n−1)) — a pure scaling), gate
    //   trace: T = Σ_i t_ii  — |T| < 2^96 outlives BIGINT and the
    //     float64 envelope, so emit T mod M₁ and T mod M₂ for two
    //     primes just under 2^53 (CRT: equal residues ⇒ equal T,
    //     since |T| < M₁·M₂); each residue is float64-exact BIGINT.
    //   Frobenius: F = Σ_{i≤j} w_ij·t_ij² (w: 1 diag / 2 off) reaches
    //     ~2^172 — uncomputable even in HUGEINT — so BOTH sides reduce
    //     per-term: Σ w·((t mod M)² mod M) mod M, identical integers ⇒
    //     identical residues, order-free.
    // The eigensolve QUALITY is flag-gated per the q65 envelope idiom
    // (oracle emits literal TRUE, engine computes): Σλ within 1e-9·s
    // of the trace, Σλ² within 1e-7·s of ‖C‖²_F, max residual
    // ‖Cv−λv‖∞ < 1e-9·max(1,‖C‖_F), ‖VᵀV−I‖max < 1e-10, eigenvalues
    // non-increasing. The whole query's corpus-scale work is the SAME
    // one-pass moment reduction q141 runs; everything after is d×d
    // metadata on the driver. -----------------------------------------
    QueryDef(
      "q154_pca_eigen",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), x AS (
        |  SELECT vec_id, i - 1 AS i, CAST(floor(v[i] * 1e9) AS BIGINT) AS xi
        |  FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
        |), m2 AS (
        |  SELECT a.i AS i, b.i AS j, sum(CAST(a.xi AS HUGEINT) * b.xi) AS s
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2
        |), m1 AS (SELECT i, CAST(sum(xi) AS HUGEINT) AS s FROM x GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |t AS (
        |  SELECT m2.i AS i, m2.j AS j,
        |         CAST(n.n AS HUGEINT) * m2.s - a.s * b.s AS tv,
        |         CASE WHEN m2.i = m2.j THEN 1 ELSE 2 END AS w
        |  FROM m2 JOIN m1 a ON a.i = m2.i JOIN m1 b ON b.i = m2.j
        |  CROSS JOIN n
        |)
        |SELECT (SELECT n FROM n)::BIGINT AS n_rows,
        |       64::BIGINT AS d,
        |       CAST((((SELECT sum(tv) FROM t WHERE i = j) % 9007199254740881)
        |             + 9007199254740881) % 9007199254740881 AS BIGINT) AS trace_m1,
        |       CAST((((SELECT sum(tv) FROM t WHERE i = j) % 9007199254740847)
        |             + 9007199254740847) % 9007199254740847 AS BIGINT) AS trace_m2,
        |       CAST(sum(w * ((((tv % 9007199254740881) + 9007199254740881) % 9007199254740881)
        |                     * (((tv % 9007199254740881) + 9007199254740881) % 9007199254740881)
        |                     % 9007199254740881)) % 9007199254740881 AS BIGINT) AS frob_m1,
        |       CAST(sum(w * ((((tv % 9007199254740847) + 9007199254740847) % 9007199254740847)
        |                     * (((tv % 9007199254740847) + 9007199254740847) % 9007199254740847)
        |                     % 9007199254740847)) % 9007199254740847 AS BIGINT) AS frob_m2,
        |       true AS eig_trace_ok, true AS eig_frob_ok,
        |       true AS resid_ok, true AS ortho_ok, true AS descending_ok
        |FROM t""",
    ) { (spark, dir) =>
      import spark.implicits._
      val emb = Tables(spark, dir).embeddings
      val d = 64
      val rows = graft.operators.Pca.moments(emb, "embedding", d)
        .select($"i", $"j", $"s")
        .as[(Int, Int, java.math.BigDecimal)].collect().toSeq
      val n = emb.count()
      val cov = graft.operators.Pca.covariance(rows, n, d)
      val eig = graft.operators.Pca.eigen(rows, n, d)
      // hash-gated half: exact-integer trace/Frobenius residues over
      // t_ij = n·m2_ij − m1_i·m1_j (scaladoc above)
      val bigM1 = BigInt(9007199254740881L); val bigM2 = BigInt(9007199254740847L)
      val m1v = Array.fill(d)(BigInt(0))
      val m2v = Array.ofDim[BigInt](d, d)
      rows.foreach {
        case (i, -1, s) => m1v(i) = BigInt(s.toBigIntegerExact)
        case (i, j, s)  => m2v(i)(j) = BigInt(s.toBigIntegerExact)
      }
      val nB = BigInt(n)
      var tInt = BigInt(0); var f1 = BigInt(0); var f2 = BigInt(0)
      for (i <- 0 until d; j <- i until d) {
        val t = nB * m2v(i)(j) - m1v(i) * m1v(j)
        if (i == j) tInt += t
        val w = if (i == j) BigInt(1) else BigInt(2)
        val r1 = t.mod(bigM1); val r2 = t.mod(bigM2)
        f1 = (f1 + w * ((r1 * r1).mod(bigM1))).mod(bigM1)
        f2 = (f2 + w * ((r2 * r2).mod(bigM2))).mod(bigM2)
      }
      // flag-gated half: eigensolve quality vs the assembled covariance
      var trace = 0.0; var frob2 = 0.0
      for (i <- 0 until d) { trace += cov(i)(i); for (j <- 0 until d) frob2 += cov(i)(j) * cov(i)(j) }
      val sumEv = eig.map(_._1).sum
      val sumEv2 = eig.map(e => e._1 * e._1).sum
      val resid = (for {
        k <- 0 until d; i <- 0 until d
      } yield math.abs(
        (0 until d).map(j => cov(i)(j) * eig(k)._2(j)).sum - eig(k)._1 * eig(k)._2(i))).max
      val ortho = (for { a <- 0 until d; b <- 0 until d } yield math.abs(
        (0 until d).map(i => eig(a)._2(i) * eig(b)._2(i)).sum - (if (a == b) 1.0 else 0.0))).max
      val descending = eig.map(_._1).sliding(2).forall(p => p(0) >= p(1))
      val scale = math.max(1.0, math.abs(trace))
      val normScale = math.max(1.0, math.sqrt(frob2))
      Seq((n, d.toLong,
        tInt.mod(bigM1).toLong, tInt.mod(bigM2).toLong, f1.toLong, f2.toLong,
        math.abs(sumEv - trace) < 1e-9 * scale,
        math.abs(sumEv2 - frob2) < 1e-7 * math.max(1.0, frob2),
        resid < 1e-9 * normScale, ortho < 1e-10, descending))
        .toDF("n_rows", "d", "trace_m1", "trace_m2", "frob_m1", "frob_m2",
          "eig_trace_ok", "eig_frob_ok", "resid_ok", "ortho_ok", "descending_ok")
    },

    // ---- q155: q131 under its own registry name — the same body
    // (indexAdmission) against the same exact bipartite oracle. The name
    // is kept for the 172-query registry and its committed sweeps; the
    // batch probe has one spelling, the members-frame join. -----------
    QueryDef("q155_kv_store_admission", incrementalOracle(0.7))(indexAdmission),

    // ---- q156: IVF-PQ (ProductQuantization scaladoc) — the residual-
    // compression stage of the billion-scale ANN stack: the persisted
    // index stores m=8 codebook ids per vector instead of the raw
    // floats (8 B vs 256 B at d=64 float32 — the difference between a
    // ~4 TB and a ~64 GB code table at 10⁹×1024-dim). Gate, per the
    // q50 idiom: (a) the exact-integer CODE CHECKSUM — DuckDB
    // recomputes it over the build-time expected dump while the engine
    // re-encodes LIVE from the frozen codebooks, so equality proves
    // encode determinism (persisted ≡ re-encode, bit for bit); (b) a
    // row-set flag that the persisted code table IS the live re-encode
    // (exceptAll both ways); (c) an ADC recall@5 >= 0.6 flag against
    // the live exact cosine top-5 (itself fixture-pinned by q50).
    // DuckDB cannot run k-means or ADC, so (b)/(c) ride the q65
    // envelope idiom (oracle emits the literal the engine must earn).
    QueryDef(
      "q156_ivf_pq",
      s"""SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors,
         |       16::BIGINT AS m, 16::BIGINT AS ks,
         |       (SELECT CAST(coalesce(sum((id % 9973 + 1) *
         |                list_sum(list_transform(codes, (c, i) -> (c + 1) * i))), 0) AS BIGINT)
         |        FROM read_parquet('$PqCodesExpected/*.parquet')) AS code_checksum,
         |       1 AS reencode_ok, 1 AS recall_ge_060""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val pqDir = ensurePqIndex(spark, dir)
      val ivf = graft.operators.IvfIndex.load(spark, ensureIvfIndex(spark, dir))
      val cb = graft.operators.ProductQuantization.loadCodebooks(spark, pqDir)
      val persisted = graft.operators.ProductQuantization.loadCodes(spark, pqDir)
      val live = graft.operators.ProductQuantization
        .encode(ivf.assignments, ivf.centroids, cb).cache()
      try {
        val checksum = graft.operators.ProductQuantization.codeChecksum(live)
        val nVec = live.count()
        val reencodeOk =
          persisted.exceptAll(live).isEmpty && live.exceptAll(persisted).isEmpty
        val e = Tables(spark, dir).embeddings
        val exact = graft.operators.SimilaritySearch
          .topK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
          .select($"qid", $"cid").cache()
        // (nProbe, rerank) from the index's build-time calibration —
        // r12 shipped literals (4, 25) calibrated at sf0.01 and the
        // recall floor broke at sf0.1 (pq_recall_r12.json)
        val pqp = graft.operators.ProductQuantization.loadParams(spark, pqDir)
        val adc = graft.operators.ProductQuantization
          .adcTopK(spark, ivf, cb, persisted, (0L until 10L).toSeq, k = 5,
            nProbe = pqp.map(_.nProbe).getOrElse(4),
            rerank = pqp.map(_.rerank).getOrElse(25))
          .select($"qid", $"cid")
        val nExact = exact.count()
        val hits = exact.join(adc, Seq("qid", "cid")).count()
        exact.unpersist()
        Seq((nVec, 16L, 16L, checksum,
          if (reencodeOk) 1 else 0,
          if (hits.toDouble / nExact >= 0.6) 1 else 0))
          .toDF("n_vectors", "m", "ks", "code_checksum", "reencode_ok",
            "recall_ge_060")
      } finally { live.unpersist(); () }
    },
  )

  /** Tool access to the per-(dir, JVM) ANN index builds (PqRecall):
    * same ensure-once semantics as the q50/q156 gates.
    */
  private[graft] def ivfIndexDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureIvfIndex(spark, dir)
  private[graft] def pqIndexDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    ensurePqIndex(spark, dir)
}
