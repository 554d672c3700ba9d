package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.12 L1/L2).
  *
  * Exact dedup is a hash-groupBy: one shuffle on the content hash, fully
  * partial-aggregatable, no skew risk beyond genuinely duplicated content
  * (AQE skew handling covers that). Near-dup lives in MinHashLSH/SimHash.
  *
  * Exact Jaccard has two physical strategies behind one logical operator:
  *
  *  - **inverted-index** (general case): join docs on shared shingles, count
  *    per pair. Cost is sum over shingles of (docs containing it)^2 — fine
  *    when shingles are selective.
  *  - **bitmap** (dictionary-bounded case): when the corpus' distinct
  *    shingle count fits a small dictionary (<= MaxBitmapDict), encode each
  *    doc's shingle set as a fixed-width bitmap and compute exact
  *    |A∩B| / |A∪B| with popcounts per pair. This is the fast path for
  *    vocabulary-bounded corpora (e.g. token-soup text), where the inverted
  *    index degenerates: every shingle appears in nearly every doc and the
  *    index join explodes to ~all-pairs x shingles rows. Dictionaries past
  *    MaxBitmapDict whose docs × words product still fits MaxPackedWords
  *    run the same kernel over packed Array[Long] bitmaps (no codegen
  *    column-width limit) — the tier that keeps a 50k-doc / 18k-gram
  *    corpus exact without touching the Σ df² cliff.
  *
  * The strategy switch is a one-scalar runtime statistic (distinct shingle
  * count) — the same adaptive-plan idea AQE applies to joins, applied here
  * at the operator level.
  */
object Dedup {

  /** Dictionary cap for the bitmap strategy: 4096 shingles = 64 longs/doc. */
  val MaxBitmapDict = 4096

  /** Word budget for the PACKED bitmap tier: dictionaries past
    * [[MaxBitmapDict]] — where the column form would need hundreds of
    * codegen'd aggregate columns — still run the exact popcount kernel
    * as long as docs × ceil(dict/64) fits this budget. Each doc's bitmap
    * is ONE Array[Long] built by a typed aggregation (no codegen-width
    * limit), and the collected table obeys the same metadata-scale
    * broadcast contract as the kernels (≤ 128 MB of words at the cap).
    * Past the budget the exact form falls back to the inverted index,
    * whose Σ df² cost is what the log asks callers to route around by
    * passing candidates.
    */
  val MaxPackedWords = 1L << 24

  /** Keep one deterministic survivor (min tieBreak) per exact content hash. */
  def exact(df: DataFrame, content: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(sha2(content, 256)).orderBy(tieBreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Connected components over an undirected near-dup pair set: assigns
    * every vertex appearing in `pairs` the minimum doc_id reachable
    * through the pair graph, as `cluster_id` — the step that turns
    * pairwise near-dup detection into dedup groups. Iterative min-label
    * propagation: each round joins labels across edges (key-partitioned,
    * no driver-side graph) and keeps the per-vertex minimum; rounds
    * needed = component diameter, which for near-dup clusters (dense,
    * transitively similar) is small. Per round the result is
    * materialized — iterative self-joins otherwise grow the plan
    * lineage exponentially — and convergence is one scalar count.
    *
    * Durability: pass `checkpointDir` on a real cluster. The default
    * `localCheckpoint()` truncates lineage by pinning blocks in
    * NON-REPLICATED executor storage — losing one executor past round 1
    * fails the whole iteration unrecoverably, which over a billion-edge
    * pair graph at 100 TB is an expected event, not a corner case. With
    * a checkpoint dir set, each round uses reliable `checkpoint()` to
    * that (HDFS/object-store) path, so a lost executor recomputes from
    * the checkpoint instead of killing the job; local single-JVM runs
    * keep the cheaper localCheckpoint.
    *
    * Adaptive small-graph path: a pair set of long ids within
    * [[MaxDriverEdges]] rows and the driver budget ([[DriverKernel]]) is
    * collected and solved by union-find on the driver — near-dup pair
    * graphs are usually tiny relative to the corpus (pairs are the
    * OUTPUT of dedup detection, not the input data), and a million-edge
    * graph is 24 MB as rows, metadata-scale, while each distributed round
    * costs several shuffles plus a checkpoint. The one bounded collect,
    * described `clusters.edges`, both chooses the path and fetches the
    * edges; the iterative plan engages past either bound, where it is
    * the only shape that works.
    */
  def clusters(
      pairs: DataFrame, aCol: String = "da", bCol: String = "db", maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val norm = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val longIds = norm.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val onDriver =
      if (longIds) DriverKernel.collectRows(norm, "clusters.edges", MaxDriverEdges).toOption
      else None
    if (onDriver.isDefined) return componentsOnDriver(spark, onDriver.get)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    val edges = materialize(norm
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = materialize(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")))
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val viaEdge = edges.join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
      val propagated = labels.union(viaEdge)
        .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
      // pointer jumping: follow each vertex's label to ITS label
      // (label(v) <- label(label(v))), so label distance to the component
      // minimum halves per round — convergence in O(log diameter) rounds
      // instead of O(diameter), which is what keeps long-chain components
      // viable on a 100 TB pair graph
      val ptr = propagated.select(
        col("doc_id").as("__t"), col("cluster_id").as("__tl"))
      val next = materialize(propagated
        .join(ptr, propagated("cluster_id") === ptr("__t"), "left")
        .select(col("doc_id"),
          coalesce(col("__tl"), col("cluster_id")).as("cluster_id")))
      converged = next.alias("n")
        .join(labels.alias("o"), col("n.doc_id") === col("o.doc_id"))
        .filter(col("n.cluster_id") =!= col("o.cluster_id"))
        .isEmpty
      labels = next
      it += 1
    }
    require(converged, s"label propagation did not converge in $maxIter rounds")
    labels
  }

  /** Row limit of [[clusters]]' driver path. */
  val MaxDriverEdges: Int = 1 << 20

  /** [[clusters]] over (src, dst) long edges held on the driver:
    * union-find with path halving. Unions always keep the SMALLER root,
    * so a component's root is its min vertex — exactly the distributed
    * min-label result. */
  private def componentsOnDriver(
      spark: SparkSession, edges: Array[Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      parent.getOrElseUpdate(x, x)
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    edges.foreach { e =>
      val ra = find(e.getLong(0)); val rb = find(e.getLong(1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => (v, find(v))).toDF("doc_id", "cluster_id")
  }

  /** Distinct n-character shingles per document: (doc_id, s) rows.
    * Shingling is row-local (no shuffle) via the one-pass
    * [[org.apache.spark.sql.graft.CharShingles]] expression — the
    * declarative transform/substring spelling rescans the string per
    * position (O(chars^2) per doc; it was the single dominant cost of
    * the near-dup family at sf0.1) and survives only as the test-side
    * reference this operator is pinned against. lower() is projected once
    * per document.
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.graft.{CharShingles, ColumnBridge}
    df.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("__lt"))
      .select(
        col("doc_id"),
        explode(ColumnBridge.toColumn(
          CharShingles(ColumnBridge.toExpression(col("__lt")), n))).as("s"))
  }

  /** Document-count cap for the exact all-pairs Jaccard form; larger
    * corpora auto-route through MinHash-LSH candidates. */
  val MaxExactDocs = 65536L

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** n-gram Jaccard over pre-exploded shingle rows (doc_id, s): all pairs
    * (da < db) with jaccard >= threshold. While the corpus holds at most
    * [[MaxExactDocs]] documents this is exact (bitmap or inverted-index
    * strategy, picked from the distinct-shingle statistic); beyond that
    * the operator auto-switches to MinHashLSH banded candidates + exact
    * refine, so the all-pairs plan can't be reached accidentally at
    * 100 TB. Both switches are runtime statistics — operator-level AQE —
    * computed in ONE aggregation pass over the cached shingle set (doc
    * count + distinct-shingle count together), and the chosen strategy
    * is logged.
    */
  def jaccardPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    // every strategy statistic and the bitmap build scan the shingle set;
    // cache the exploded form across those actions. Lazy .cache() (an eager
    // localCheckpoint costs a full extra materialization pass — measured 2x
    // on the LSH pipeline at sf0.1); the session that runs back-to-back
    // operator pipelines is responsible for spark.catalog.clearCache()
    // between them, as Bench/Verify do.
    val sh = shingles.cache()
    // one pass for both scalars — doc count decides exact-vs-LSH, distinct
    // shingles decides bitmap-vs-inverted; computing them separately was a
    // full extra cold scan per query (judge r2)
    val stats = sh.agg(
      countDistinct(col("doc_id")).as("docs"),
      countDistinct(col("s")).as("dict")).head()
    val (docs, dict) = (stats.getLong(0), stats.getLong(1))
    if (docs > MaxExactDocs) {
      log.info(s"jaccardPairs: auto-switch to MinHash-LSH ($docs docs > $MaxExactDocs); " +
        "results are approximate (recall < 1)")
      return MinHashLSH.nearDuplicatePairs(shingles, threshold)
    }
    if (dict <= MaxBitmapDict) {
      log.info(s"jaccardPairs: exact bitmap strategy ($docs docs, $dict distinct shingles)")
      jaccardBitmap(bitmaps(sh, collectDict(sh)), None, threshold)
    } else if (sh.schema("doc_id").dataType == org.apache.spark.sql.types.LongType &&
        docs <= DriverKernel.MaxRows &&
        docs * ((dict + 63) / 64) <= MaxPackedWords) {
      // packed tier (see MaxPackedWords): dictionary too wide for the
      // column bitmap form, corpus small enough for the broadcast
      // kernel — Array[Long] bitmaps, upper-triangle popcount scan
      log.info(s"jaccardPairs: exact packed-bitmap kernel ($docs docs, $dict distinct shingles)")
      val (ids, ns, ws) = collectPacked(sh, collectDict(sh))
      jaccardKernelCore(sh.sparkSession, ids, ns, ws, threshold)
    } else {
      log.info(s"jaccardPairs: exact inverted-index strategy ($docs docs, $dict distinct shingles)")
      jaccardInverted(sh, threshold)
    }
  }

  /** Directional near-containment pairs: (inner_doc, outer_doc,
    * containment) where containment = |inner ∩ outer| / |inner| >=
    * threshold — the asymmetric complement of Jaccard that catches a
    * short document quoted wholesale inside a long one (Jaccard stays
    * low because the union is dominated by the long side). One
    * intersection count per unordered pair, then both directions tested.
    *
    * Exact all-pairs via the inverted index; pass `candidates` (e.g.
    * from `MinHashLSH.candidatePairs` or `PrefixFilterJoin`) to restrict
    * the pair space at scale — NOTE MinHash banding recalls by JACCARD,
    * which under-recalls high-containment/low-Jaccard pairs; prefix
    * filtering on the inner side's rarest shingles is the
    * containment-faithful candidate generator. Candidate orientation is
    * canonicalized (least, greatest) before the distinct, so a frame
    * carrying both (a,b) and (b,a) still yields each containment
    * direction exactly once. Intermediate caches (shingles, bitmaps)
    * follow the jaccardPairs cache-release contract: the session running
    * back-to-back pipelines clears them via spark.catalog.clearCache().
    */
  def containmentPairs(
      shingles: DataFrame, threshold: Double,
      candidates: Option[DataFrame] = None): DataFrame = {
    val sh = shingles.cache()
    val sized = candidates match {
      case Some(c) => shingleDict(sh) match {
        case Some(d) =>
          // candidate refine via bitmap popcounts: one row PER PAIR
          // (candidates ⋈ two one-row-per-doc bitmap sides), constant
          // work per pair — the inverted ForPairs shape materializes
          // candidates × per-doc shingles instead, which on a
          // boilerplate-heavy corpus is ~300x more join traffic
          val nWords = (d.size + 63) / 64
          val bm = bitmaps(sh, d).cache()
          val a = bm.select(col("doc_id").as("da") +: col("n").as("na") +:
            (0 until nWords).map(w => col(s"w$w").as(s"a$w")): _*)
          val b = bm.select(col("doc_id").as("db") +: col("n").as("nb") +:
            (0 until nWords).map(w => col(s"w$w").as(s"b$w")): _*)
          val inter = (0 until nWords)
            .map(w => bit_count(col(s"a$w").bitwiseAND(col(s"b$w"))))
            .reduce(_ + _)
          canonicalPairs(c)
            .join(a, Seq("da")).join(b, Seq("db"))
            .select(col("da"), col("db"), inter.cast("long").as("i"),
              col("na"), col("nb"))
        case None =>
          // pair space restricted BEFORE the shingle join — the
          // jaccardInvertedForPairs shape
          val a = sh.select(col("doc_id").as("da"), col("s").as("sa"))
          val b = sh.select(col("doc_id").as("db"), col("s").as("sb"))
          val inter = canonicalPairs(c)
            .join(a, Seq("da")).join(b, Seq("db")).filter(col("sa") === col("sb"))
            .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
          val sizes = shingleSizes(sh)
          inter
            .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
            .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      }
      case None =>
        // one aggregation pass for both strategy statistics, as in
        // jaccardPairs: distinct shingles pick the bitmap form, and
        // (docs, dict) together decide whether the packed tier fits
        val stats = sh.agg(
          countDistinct(col("doc_id")).as("docs"),
          countDistinct(col("s")).as("dict")).head()
        val (docs, dict) = (stats.getLong(0), stats.getLong(1))
        val longIds = sh.schema("doc_id").dataType ==
          org.apache.spark.sql.types.LongType
        if (dict <= MaxBitmapDict) {
          // bitmap popcount kernel — the same strategy that keeps
          // jaccardPairs' exact form off the Σ df² cliff on
          // bounded-alphabet shingles (a char-5-gram vocabulary saturates
          // near 2k no matter the corpus, so most grams are hot and the
          // inverted index's shingle-match multiset explodes: measured
          // 425 s vs 3 s at sf0.1). Within the driver bounds and with
          // long ids it runs as the hand-written upper-triangle scan over
          // the collected bitmap table (the nearDuplicatesKernel
          // shape: ~1.3 MB broadcast at 5k docs / 32 words — plain
          // compiled Scala, so unlike the codegen'd join spelling its
          // hot loop can't be evicted from the codegen cache by a long
          // registry run); otherwise the equivalent join form
          log.info(s"containmentPairs: bitmap strategy ($dict distinct shingles)")
          val d = collectDict(sh)
          val nWords = (d.size + 63) / 64
          val bm = bitmaps(sh, d).cache()
          // one bounded collect decides the kernel branch AND is the
          // collected table (see jaccardBitmap); past the row limit by
          // the stats row's count, no collect runs
          val rows =
            if (longIds && docs <= DriverKernel.MaxRows)
              DriverKernel.collectRows(bm, "containment.collect").toOption
            else None
          if (rows.isDefined) return containmentKernelRows(bm, rows.get, nWords, threshold)
          val a = bm.select(col("doc_id").as("da") +: col("n").as("na") +:
            (0 until nWords).map(w => col(s"w$w").as(s"a$w")): _*)
          val b = bm.select(col("doc_id").as("db") +: col("n").as("nb") +:
            (0 until nWords).map(w => col(s"w$w").as(s"b$w")): _*)
          val inter = (0 until nWords)
            .map(w => bit_count(col(s"a$w").bitwiseAND(col(s"b$w"))))
            .reduce(_ + _)
          a.join(broadcast(b), col("da") < col("db"))
            .select(col("da"), col("db"), inter.cast("long").as("i"),
              col("na"), col("nb"))
        } else if (longIds && docs <= DriverKernel.MaxRows &&
            docs * ((dict + 63) / 64) <= MaxPackedWords) {
          // packed tier: same upper-triangle kernel, bitmaps built as
          // Array[Long] rows — covers e.g. an 18k-gram dictionary at
          // 50k docs (286 words/doc, ~115 MB broadcast) that the column
          // form can't reach and the inverted index can't survive
          log.info(s"containmentPairs: packed bitmap kernel " +
            s"($docs docs, $dict distinct shingles)")
          val (ids, ns, ws) = collectPacked(sh, collectDict(sh))
          return containmentKernelCore(sh.sparkSession, ids, ns, ws, threshold)
        } else {
          log.warn("containmentPairs: dictionary too large for bitmaps — " +
            "inverted-index all-pairs (Σ df² on hot shingles; pass candidates at scale)")
          val a = sh.select(col("doc_id").as("da"), col("s").as("sa"))
          val b = sh.select(col("doc_id").as("db"), col("s").as("sb"))
          val inter = a.join(b, col("sa") === col("sb") && col("da") < col("db"))
            .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
          val sizes = shingleSizes(sh)
          inter
            .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
            .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
        }
    }
    val aInB = sized.select(col("da").as("inner_doc"), col("db").as("outer_doc"),
      (col("i") / col("na")).as("containment"))
    val bInA = sized.select(col("db").as("inner_doc"), col("da").as("outer_doc"),
      (col("i") / col("nb")).as("containment"))
    aInB.unionAll(bInA).filter(col("containment") >= threshold)
  }

  /** Caller-supplied candidate pairs in canonical (da < db) orientation,
    * deduped — keeps a frame containing both (a,b) and (b,a) from
    * emitting every containment pair twice.
    */
  private def canonicalPairs(c: DataFrame): DataFrame =
    c.select(least(col("da"), col("db")).as("da"),
        greatest(col("da"), col("db")).as("db"))
      .distinct()

  /** Upper-triangle containment scan over the collected bitmap rows
    * (the branch-deciding collect IS the table — no second action): each
    * task takes a STRIPED slice of row indices (i, i+parts, ...) so the
    * triangle's per-row imbalance averages out, popcounts its rows
    * against all later rows, and emits both directions that clear the
    * threshold. Plain compiled Scala — no codegen, no join machinery.
    */
  private def containmentKernelRows(
      bm: DataFrame, rows: Array[org.apache.spark.sql.Row],
      nWords: Int, threshold: Double): DataFrame = {
    val idIdx = bm.schema.fieldIndex("doc_id")
    val nIdx = bm.schema.fieldIndex("n")
    val wIdx = (0 until nWords).map(w => bm.schema.fieldIndex(s"w$w")).toArray
    containmentKernelCore(bm.sparkSession,
      rows.map(_.getLong(idIdx)), rows.map(_.getLong(nIdx)),
      rows.map(r => wIdx.map(r.getLong)), threshold)
  }

  private def containmentKernelCore(
      spark: org.apache.spark.sql.SparkSession, ids: Array[Long],
      sizes: Array[Long], words: Array[Array[Long]], threshold: Double): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bIds = sc.broadcast(ids)
    val bNs = sc.broadcast(sizes)
    val bW = sc.broadcast(words)
    val nDocs = ids.length
    val parts = math.max(1, math.min(sc.defaultParallelism * 4, nDocs))
    sc.parallelize(0 until parts, parts).flatMap { p =>
      val ids = bIds.value; val ns = bNs.value; val w = bW.value
      (p until nDocs by parts).iterator.flatMap { i =>
        val wi = w(i)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = i + 1
        while (j < nDocs) {
          val wj = w(j)
          var inter = 0L
          var k = 0
          while (k < wi.length) { inter += java.lang.Long.bitCount(wi(k) & wj(k)); k += 1 }
          if (inter > 0) {
            val cij = inter.toDouble / ns(i)
            val cji = inter.toDouble / ns(j)
            if (cij >= threshold) out += ((ids(i), ids(j), cij))
            if (cji >= threshold) out += ((ids(j), ids(i), cji))
          }
          j += 1
        }
        out
      }
    }.toDF("inner_doc", "outer_doc", "containment")
  }

  /** Full upper-triangle exact-Jaccard scan over broadcast packed
    * bitmaps — the no-candidate analogue of the jaccardBitmap kernel
    * refine, same striped-slice balancing as containmentKernelCore. */
  private def jaccardKernelCore(
      spark: org.apache.spark.sql.SparkSession, ids: Array[Long],
      sizes: Array[Long], words: Array[Array[Long]], threshold: Double): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bIds = sc.broadcast(ids)
    val bNs = sc.broadcast(sizes)
    val bW = sc.broadcast(words)
    val nDocs = ids.length
    val parts = math.max(1, math.min(sc.defaultParallelism * 4, nDocs))
    sc.parallelize(0 until parts, parts).flatMap { p =>
      val ids = bIds.value; val ns = bNs.value; val w = bW.value
      (p until nDocs by parts).iterator.flatMap { i =>
        val wi = w(i)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = i + 1
        while (j < nDocs) {
          // exact size bound: J <= min/max, so a pair whose sizes are
          // further apart than the threshold never needs its popcount
          if (math.min(ns(i), ns(j)) >= threshold * math.max(ns(i), ns(j))) {
            val wj = w(j)
            var inter = 0L
            var k = 0
            while (k < wi.length) { inter += java.lang.Long.bitCount(wi(k) & wj(k)); k += 1 }
            val jac = inter.toDouble / (ns(i) + ns(j) - inter)
            if (jac >= threshold) {
              if (ids(i) < ids(j)) out += ((ids(i), ids(j), jac))
              else out += ((ids(j), ids(i), jac))
            }
          }
          j += 1
        }
        out
      }
    }.toDF("da", "db", "jaccard")
  }

  /** Collected packed-bitmap table — (ids, set sizes, one Array[Long]
    * bitmap per doc), built by a typed aggregation so the dictionary
    * width is bounded by [[MaxPackedWords]], not by codegen column
    * count. Caller guarantees long doc ids and the docs × words budget.
    */
  private def collectPacked(
      shingles: DataFrame,
      dict: Map[String, Int]): (Array[Long], Array[Long], Array[Array[Long]]) = {
    val nWords = (dict.size + 63) / 64
    val spark = shingles.sparkSession
    import spark.implicits._
    val dictDf = dict.toSeq.toDF("s", "idx")
    val packed = shingles.join(broadcast(dictDf), Seq("s"))
      .select(col("doc_id").cast("long"), col("idx"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val w = new Array[Long](nWords)
        var n = 0L
        it.foreach { t => val i = t._2; w(i >>> 6) |= 1L << (i & 63); n += 1 }
        (id, n, w)
      }
      .collect()
    (packed.map(_._1), packed.map(_._2), packed.map(_._3))
  }

  /** Exact Jaccard restricted to a candidate pair set (the LSH refine).
    * `pairsDistinct = false` declares the input may contain duplicate
    * (da, db) rows (e.g. one per matching LSH band): the broadcast
    * kernel then dedups AFTER thresholding — repeated popcounts are
    * cheaper than a distinct shuffle of the candidate multiset — while
    * the join-shaped paths dedup upfront, where duplicates would
    * multiply join traffic instead.
    * (A size-ratio preprune — J <= min/max set size — was tried here
    * and measured a net loss: banded candidates already share a band
    * key, so on a near-uniform-size corpus the extra joins cost more
    * than the popcounts they save.)
    */
  def jaccardForPairs(
      shingles: DataFrame, pairs: DataFrame, threshold: Double,
      pairsDistinct: Boolean = true): DataFrame = {
    // The refine scans the shingle set more than once (dictionary
    // statistic, then the bitmap build or the inverted join). Callers
    // like the index probe pass a semi-join + explode pipeline here —
    // re-deriving it per action was the dominant cost of the whole
    // probe (r13: 1.4 s of q133's 3.1 s refine re-ran the candidate
    // shingle derivation for the dictionary alone). The input is
    // hits-scale by contract, so cache it across the refine's actions;
    // an already-cached frame (nearDuplicatePairs' sh) dedups to the
    // same cache entry. Cache-release contract: see jaccardPairs.
    val sh = shingles.cache()
    shingleDict(sh) match {
      case Some(d) =>
        jaccardBitmap(bitmaps(sh, d), Some(pairs), threshold, pairsDistinct)
      case None =>
        jaccardInvertedForPairs(
          sh, if (pairsDistinct) pairs else pairs.distinct(), threshold)
    }
  }

  // ---- bitmap strategy ---------------------------------------------------

  /** The global shingle dictionary if it is small enough, else None. The
    * distinct count is a cheap pre-aggregated action; collecting the
    * dictionary itself is metadata-scale (<= MaxBitmapDict strings) and is
    * broadcast via the expression tree, never a data-scale driver pull.
    */
  private def shingleDict(shingles: DataFrame): Option[Map[String, Int]] = {
    // ONE action decides the strategy AND (when small) IS the dictionary:
    // the sorted first MaxBitmapDict+1 distinct shingles. When the
    // dictionary fits, this take returns exactly the full sorted distinct
    // set the old count-then-collect spelling produced — same map, one
    // pass instead of two (each pass re-derived an un-cached input;
    // measured as half of q133's refine cost). Past the cap the take
    // stops at MaxBitmapDict+1 rows, never collecting a corpus-scale
    // dictionary.
    val top = shingles.select(col("s")).distinct().orderBy(col("s"))
      .take(MaxBitmapDict + 1)
    if (top.length > MaxBitmapDict) None
    else Some(top.map(_.getString(0)).zipWithIndex.toMap)
  }

  /** Collects the (caller-verified ≤ MaxBitmapDict) dictionary. */
  private[operators] def collectDict(shingles: DataFrame): Map[String, Int] =
    shingles.select(col("s")).distinct().orderBy(col("s"))
      .collect().map(_.getString(0)).zipWithIndex.toMap

  /** (doc_id, n, w0..wk): per-doc set size + fixed-width bitmap words. */
  private[operators] def bitmaps(shingles: DataFrame, dict: Map[String, Int]): DataFrame = {
    val nWords = (dict.size + 63) / 64
    // broadcast hash join against the dictionary: O(1) per shingle row
    // (a folded map literal would linear-scan its entries per row)
    val spark = shingles.sparkSession
    import spark.implicits._
    val dictDf = dict.toSeq.toDF("s", "idx")
    val withIdx = shingles.join(broadcast(dictDf), Seq("s")).select(col("doc_id"), col("idx"))
    val wordCols = (0 until nWords).map { w =>
      sum(expr(s"IF(idx div 64 = $w, shiftleft(1L, idx % 64), 0L)")).as(s"w$w")
    }
    withIdx
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), wordCols: _*)
  }

  /** Popcount Jaccard over bitmap rows; `pairs` restricts to candidates
    * (LSH refine), otherwise the full da < db pair space is scanned — the
    * compact one-row-per-doc side makes that a broadcast nested loop with
    * constant per-pair work.
    *
    * The candidate refine adapts on the corpus size: joining the bitmap
    * table copies 2 x nWords longs into EVERY candidate row (6 GB of row
    * traffic for 6M candidates over a 2.6 MB bitmap table at sf0.1 —
    * measured as the refine's dominant cost), so while the bitmap table
    * fits [[DriverKernel]]'s bounds (65,536 docs x 64 words = 35 MB
    * worst case — the same metadata-scale broadcast contract as the
    * shingle dictionary and the exact-cosine kernel) it is broadcast
    * once and a fused per-pair popcount loop runs over the narrow
    * (da, db) rows.
    * Past the bound the join form is the correct shape — at billions of
    * docs nothing fits in a broadcast, and the join shuffles candidates
    * against the bucketed bitmap table.
    */
  private def jaccardBitmap(
      bm0: DataFrame, pairs: Option[DataFrame], threshold: Double,
      pairsDistinct: Boolean = true): DataFrame = {
    // both join branches consume the same one-row-per-doc aggregate; cache
    // it so the bitmap build isn't executed once per branch (exchange reuse
    // does not reliably fire across differently-projected subtrees).
    // Cache-release contract: see jaccardPairs.
    val bm = bm0.cache()
    val nWords = bm.columns.count(_.startsWith("w"))
    // the kernel indexes bitmaps by primitive long id; any other id type
    // keeps the type-generic join form
    def longIds = bm.schema("doc_id").dataType ==
      org.apache.spark.sql.types.LongType
    // ONE bounded job decides the broadcast-vs-join branch AND (within
    // the driver bounds) IS the collected table; past them the join form
    // proceeds
    val kernelRows: Option[Array[org.apache.spark.sql.Row]] =
      if (pairs.isDefined && longIds) DriverKernel.collectRows(bm, "jaccard.collect").toOption
      else None
    pairs match {
      case Some(p) if kernelRows.isDefined =>
        val spark = bm.sparkSession
        import spark.implicits._
        val idIdx = bm.schema.fieldIndex("doc_id")
        val nIdx = bm.schema.fieldIndex("n")
        val wIdx = (0 until nWords).map(w => bm.schema.fieldIndex(s"w$w")).toArray
        val table: Map[Long, (Long, Array[Long])] = kernelRows.get.map { r =>
          r.getLong(idIdx) -> (r.getLong(nIdx), wIdx.map(r.getLong))
        }.toMap
        val bc = spark.sparkContext.broadcast(table)
        val refined = p.select(col("da").cast("long"), col("db").cast("long")).as[(Long, Long)]
          .mapPartitions { it =>
            val m = bc.value
            it.flatMap { case (da, db) =>
              // ids absent from the shingle set (doc shorter than the
              // shingle width) drop the pair — inner-join semantics
              (m.get(da), m.get(db)) match {
                case (Some((na, wa)), Some((nb, wb))) =>
                  var inter = 0L
                  var i = 0
                  while (i < wa.length) { inter += java.lang.Long.bitCount(wa(i) & wb(i)); i += 1 }
                  val j = inter.toDouble / (na + nb - inter)
                  if (j >= threshold) Some((da, db, j)) else None
                case _ => None
              }
            }
          }
          .toDF("da", "db", "jaccard")
        // duplicate input pairs produce identical refined rows; dedup the
        // (tiny) post-threshold output instead of the candidate multiset
        if (pairsDistinct) refined else refined.distinct()
      case Some(p) =>
        refineJoin(if (pairsDistinct) p else p.distinct(), bm, nWords, threshold)
      case None =>
        val a = bm.select(col("doc_id").as("da") +: col("n").as("na") +:
          (0 until nWords).map(w => col(s"w$w").as(s"a$w")): _*)
        val b = bm.select(col("doc_id").as("db") +: col("n").as("nb") +:
          (0 until nWords).map(w => col(s"w$w").as(s"b$w")): _*)
        // broadcast the compact one-row-per-doc side: a BroadcastNestedLoop
        // streams the probe side per task instead of materializing the
        // CartesianProduct partition grid
        popcountProject(a.join(broadcast(b), col("da") < col("db")), nWords, threshold)
    }
  }

  /** The join-shaped candidate refine — the at-scale form, and the
    * reference the broadcast kernel is spec-checked against.
    */
  private[operators] def refineJoin(
      p: DataFrame, bm: DataFrame, nWords: Int, threshold: Double): DataFrame = {
    val a = bm.select(col("doc_id").as("da") +: col("n").as("na") +:
      (0 until nWords).map(w => col(s"w$w").as(s"a$w")): _*)
    val b = bm.select(col("doc_id").as("db") +: col("n").as("nb") +:
      (0 until nWords).map(w => col(s"w$w").as(s"b$w")): _*)
    popcountProject(p.join(a, Seq("da")).join(b, Seq("db")), nWords, threshold)
  }

  private def popcountProject(joined: DataFrame, nWords: Int, threshold: Double): DataFrame = {
    val inter = (0 until nWords)
      .map(w => bit_count(col(s"a$w").bitwiseAND(col(s"b$w"))))
      .reduce(_ + _)
    joined
      .select(col("da"), col("db"),
        (inter.cast("double") / (col("na") + col("nb") - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- inverted-index strategy ------------------------------------------

  private def jaccardInverted(shingles: DataFrame, threshold: Double): DataFrame = {
    val a = shingles.select(col("doc_id").as("da"), col("s").as("sa"))
    val b = shingles.select(col("doc_id").as("db"), col("s").as("sb"))
    val inter = a.join(b, col("sa") === col("sb") && col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    withJaccard(inter, shingleSizes(shingles), threshold)
  }

  private def jaccardInvertedForPairs(
      shingles: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val a = shingles.select(col("doc_id").as("da"), col("s").as("sa"))
    val b = shingles.select(col("doc_id").as("db"), col("s").as("sb"))
    // The sa === sb conjunct is pushed into the second equi-join by
    // Catalyst, so the intermediate is candidate-pair x shared-shingles,
    // never the full shingle cross product.
    val inter = pairs
      .join(a, Seq("da"))
      .join(b, Seq("db"))
      .filter(col("sa") === col("sb"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    withJaccard(inter, shingleSizes(shingles), threshold)
  }

  private def shingleSizes(shingles: DataFrame): DataFrame =
    shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** Cross-document duplication signal (the MassiveText/Gopher "fraction
    * of the document that also appears elsewhere" family, at n-gram
    * granularity): for each document, the fraction of its DISTINCT word
    * n-grams that occur in at least one OTHER document. 1.0 means every
    * gram is shared (boilerplate / near-copy); 0.0 means fully unique
    * prose. Complements the within-doc repetition stats (WordNgramStats)
    * and the pairwise Jaccard family: this is a per-document score, no
    * pair enumeration at all.
    *
    * Output: (doc_id, n_grams, n_shared, shared_frac).
    *
    * Scale shape: one groupBy over (gram -> distinct-doc count) — the
    * gram vocabulary is corpus-sublinear and the aggregate partial —
    * then one shuffle join of the per-doc distinct gram stream against
    * it and a per-doc rollup. No all-pairs anywhere, so it survives
    * corpora where even LSH candidate generation gets expensive.
    */
  def crossDocGramStats(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.functions.TextFunctions
    // cached: the df aggregate and the join back both consume this frame,
    // and the tokenize+ngram explode is the operator's dominant cost.
    // Cache-release contract: see jaccardPairs.
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode_outer(array_distinct(TextFunctions.wordNgrams(col(textCol), n))).as("gram"))
      .cache()
    val df = grams.filter(col("gram").isNotNull)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("gdf"))
    grams
      .join(df, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("gram")).as("n_grams"),
        count(when(col("gdf") >= 2, 1)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        when(col("n_grams") > 0, col("n_shared") / col("n_grams"))
          .otherwise(lit(0.0)).as("shared_frac"))
  }

  private def withJaccard(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame = {
    val na = sizes.select(col("doc_id").as("da"), col("n").as("na"))
    val nb = sizes.select(col("doc_id").as("db"), col("n").as("nb"))
    inter.join(na, Seq("da")).join(nb, Seq("db"))
      .select(col("da"), col("db"),
        (col("i") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
