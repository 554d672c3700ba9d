package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (SURVEY.md §2.12 L3).
  *
  * - `topK`: exact brute-force cosine top-k — the oracle baseline. Probes
  *   are broadcast against the candidate set, so the scan over candidates
  *   is a single embarrassingly-parallel pass (no shuffle until the
  *   per-probe top-k window, which is tiny: probes x k rows).
  * - `lshBucketed`: random-hyperplane LSH (Charikar 2002) scale path:
  *   candidates sharing a hyperplane sign-bucket with the probe are scored;
  *   recall < 1 by construction, measured against `topK` in the spec.
  */
object SimilaritySearch {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact cosine top-k. probes/candidates: (idCol, vecCol). Output:
    * (qid, rn, cid, cos) with rn in 1..k, cos rounded to 4dp, ties broken
    * by cid.
    */
  def topK(
      probes: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = probes.select(
      col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = candidates.select(
      col(idCol).as("cid"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("cid"), col("cos"))
  }

  /** Contrastive hard-negative mining — the training-pair assembly step
    * for embedding models: for each probe, the top-k most similar
    * candidates carrying a DIFFERENT label, restricted to cosine >=
    * `minCos` (below that a negative is "easy" and carries no training
    * signal). Same physical shape as [[topK]] — probes broadcast, one
    * embarrassingly-parallel scan over candidates, the per-probe window
    * only sees rows that cleared the band filter — so the label
    * predicate and band are evaluated BEFORE anything shuffles.
    * Output: (qid, rn, cid, neg_label, cos), ties by cid.
    *
    * The broadcast assumes a bounded probe set (the mining-batch shape).
    * For probe sets too large to broadcast, bucket BOTH sides first
    * ([[hyperplaneBuckets]] / [[IvfIndex]]) and score within buckets —
    * the [[topKBucketed]] decomposition with the label predicate kept in
    * the bucket-local scan.
    */
  def hardNegatives(
      probes: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      minCos: Double): DataFrame = {
    val q = probes.select(
      col(idCol).as("qid"), col(labelCol).as("qlabel"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = candidates.select(
      col(idCol).as("cid"), col(labelCol).as("neg_label"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = broadcast(q).join(c, col("qlabel") =!= col("neg_label"))
      .select(col("qid"), col("cid"), col("neg_label"),
        round(cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4).as("cos"))
      .filter(col("cos") >= minCos)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("cid"), col("neg_label"), col("cos"))
  }

  /** k-NN label classification — the semi-supervised labeling step of a
    * training-data pipeline (label a large unlabeled pool from a small
    * curated seed set): each probe takes the majority label among its
    * `k` nearest LABELED neighbors by cosine; ties broken by (higher
    * summed similarity, then smaller label). Physical shape is [[topK]]:
    * the probe batch broadcasts, the labeled corpus is scanned once in
    * parallel, and everything past the per-probe top-k window is
    * metadata-scale (probes x k rows). The vote score sums DECIMAL(18,4)
    * over the 4dp-rounded cosines, so the score tie-break is exact
    * arithmetic — accumulation order cannot drift the winner between
    * engines (the q117 centroid-sum discipline). For probe sets too
    * large to broadcast, bucket both sides ([[topKBucketed]] /
    * [[IvfIndex]]) and reuse the identical window + vote aggregation.
    * Output: (qid, pred_label, votes, score).
    */
  def knnClassify(
      probes: DataFrame,
      labeled: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val q = probes.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = labeled.select(
      col(idCol).as("cid"), col(labelCol).as("nlabel"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("nlabel"),
        round(cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4)
          .cast(DecimalType(18, 4)).as("cos"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val votes = scored.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("votes"), sum(col("cos")).as("score"))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("score").desc, col("nlabel"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .select(col("qid"), col("nlabel").as("pred_label"), col("votes"), col("score"))
  }

  /** All pairs (a < b) with cosine >= threshold — embedding near-dup.
    * Exact while the corpus holds at most [[DriverKernel.MaxRows]]
    * rows; past that the operator switches to the hyperplane-bucketed
    * candidate path (same result shape, recall tuned ~1 at near-dup
    * thresholds), so the O(n^2) plan can't be reached accidentally at
    * scale — the same operator-level switch Dedup applies between its
    * exact and MinHash-LSH strategies. The exact form runs as the
    * driver kernel below when the vectors also fit the driver budget
    * (one bounded collect decides and is the kernel's input), else as
    * the all-pairs join.
    */
  def nearDuplicates(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame =
    nearDuplicatesKernel(df, idCol, vecCol, threshold).fold({ over =>
      // past the budget within the row limit the collect did not learn
      // the row count; past the row limit it did
      if (over == DriverKernel.OverBudget && df.count() <= DriverKernel.MaxRows)
        nearDuplicatesExactJoin(df, idCol, vecCol, threshold)
      else {
        log.info(s"nearDuplicates: auto-switch to hyperplane buckets (more than " +
          s"${DriverKernel.MaxRows} rows); results are approximate (recall < 1)")
        nearDuplicatesBucketed(df, idCol, vecCol, threshold)
      }
    }, identity)

  /** Exact all-pairs cosine as a broadcast kernel, or the bound passed
    * when the vectors do not fit [[DriverKernel]]'s: the whole vector set
    * is collected once (65,536 x 64 dims = 33 MB worst case, the same
    * metadata-scale broadcast contract as the shingle dictionary),
    * broadcast, and each task scans its slice of row indices against
    * the upper triangle. The all-pairs JOIN spelling materializes BOTH
    * embedding arrays per pair — n^2 * 2d doubles, 12.8 GB of row traffic at sf0.1 against a 2.5 MB vector set — and
    * measured 2x slower than this kernel. Arithmetic matches the column
    * form exactly: sequential double dot, norms via sqrt(dot(v,v)), and
    * HALF_UP 4dp rounding through BigDecimal.valueOf like Spark's
    * round() (paid only near the threshold; anything below
    * threshold - 1e-4 cannot round up to pass).
    */
  private def nearDuplicatesKernel(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double
  ): Either[DriverKernel.Over, DataFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    DriverKernel.collectRows(
      df.select(col(idCol).cast("long").as("id"), toDouble(col(vecCol)).as("v")),
      "similarity.collect").map { rows =>
      val all = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val ids = all.map(_._1)
      val vecs = all.map(_._2)
      val norms = vecs.map { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      val bc = spark.sparkContext.broadcast((ids, vecs, norms))
      val n = ids.length
      // round-robin the a-side indices so the shrinking upper-triangle rows
      // spread evenly across tasks instead of loading the first partitions
      spark.range(0, n.toLong)
        .repartition(spark.sparkContext.defaultParallelism)
        .as[Long]
        .mapPartitions { it =>
          val (ids, vecs, norms) = bc.value
          it.flatMap { aL =>
            val a = aL.toInt
            val va = vecs(a); val na = norms(a)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            var b = a + 1
            while (b < ids.length) {
              val vb = vecs(b)
              var s = 0.0; var i = 0
              while (i < va.length) { s += va(i) * vb(i); i += 1 }
              val raw = s / (na * norms(b))
              if (raw >= threshold - 1e-4) {
                val c = java.math.BigDecimal.valueOf(raw)
                  .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
                if (c >= threshold) out += ((ids(a), ids(b), c))
              }
              b += 1
            }
            out
          }
        }
        .toDF("ka", "kb", "cos")
    }
  }

  /** The all-pairs JOIN spelling: the exact form for vectors past the
    * driver budget (wide vectors), and the cross-checked reference
    * formulation for the broadcast kernel above.
    */
  private[operators] def nearDuplicatesExactJoin(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val a = base.select(col("id").as("ka"), col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("id").as("kb"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("ka") < col("kb"))
      .select(col("ka"), col("kb"),
        round(cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Scale path: hyperplane-bucket candidate pairs (bucket equi-join, never
    * all-pairs) refined by the exact cosine. Recall per pair at angle t is
    * 1-(1-(1-t/pi)^numBits)^numTables — 32 tables x 4 bits gives ~0.999 at
    * cos 0.45; raise numTables for tighter guarantees. Hot buckets (a
    * corpus of near-identical embeddings collapsing into one sign
    * pattern) go through the same star-cap discipline as the
    * MinHash/SimHash banding — K-1 representative pairs instead of K^2 —
    * and duplicates across tables are deduped after the cheap refine
    * rather than with a candidate-multiset distinct.
    */
  def nearDuplicatesBucketed(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numBits: Int = 4, numTables: Int = 32,
      bucketCap: Int = MinHashLSH.DefaultBucketCap): DataFrame = {
    val keyed = hyperplaneBuckets(df, vecCol, numBits, numTables)
      .select(col(idCol).as("doc_id"), lit(0).as("band"), col("bucket").as("bkey"))
    val cand = MinHashLSH.cappedBucketPairs(keyed, bucketCap, dedup = false)
      .select(col("da").as("ka"), col("db").as("kb"))
    val base = df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    cand
      .join(base.select(col("id").as("ka"), col("v").as("va"), col("nrm").as("na")), Seq("ka"))
      .join(base.select(col("id").as("kb"), col("v").as("vb"), col("nrm").as("nb")), Seq("kb"))
      .select(col("ka"), col("kb"),
        round(cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Multi-table random-hyperplane LSH keys (Charikar 2002): `numTables`
    * independent `numBits`-bit sign keys per vector, emitted as exploded
    * (table-tagged) bucket rows. Two vectors at angle t share a table's key
    * with prob (1 - t/pi)^numBits; union over tables lifts recall to
    * 1-(1-p)^numTables — tune tables up for recall, bits up for
    * selectivity. Deterministic: hyperplane components come from
    * xxhash64(table, bit, dim) parity, no runtime RNG.
    */
  def hyperplaneBuckets(df: DataFrame, vecCol: String, numBits: Int, numTables: Int): DataFrame = {
    val tableKeys = (0 until numTables).map { t =>
      val bits = (0 until numBits).map { b =>
        val proj = aggregate(
          zip_with(toDouble(col(vecCol)), sequence(lit(0), size(col(vecCol)) - 1),
            (x, d) => x * (pmod(xxhash64(lit(t), lit(b), d), lit(2)) * 2 - 1).cast("double")),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit("1")).otherwise(lit("0"))
      }
      concat(lit(s"$t|") +: bits: _*)
    }
    df.withColumn("bucket", explode(array(tableKeys: _*)))
  }

  /** ANN top-k: score only candidates sharing at least one table bucket
    * with the probe — the 100 TB path (bucket equi-join, never all-pairs).
    * Same output shape as `topK`; recall vs exact measured in OperatorsSpec.
    */
  def topKBucketed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeIds: Seq[Long],
      k: Int,
      numBits: Int = 4,
      numTables: Int = 12): DataFrame = {
    val keyed = hyperplaneBuckets(df, vecCol, numBits, numTables)
      .select(col(idCol).as("id"), col("bucket"))
    val q = keyed.filter(col("id").isin(probeIds: _*))
      .select(col("id").as("qid"), col("bucket"))
    // candidate pairs: same bucket in ANY table, deduped before scoring so
    // each pair's cosine is computed once.
    val cand = broadcast(q)
      .join(keyed.select(col("id").as("cid"), col("bucket")), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid")).distinct()
    val base = df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val scored = cand
      .join(base.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn")), Seq("qid"))
      .join(base.select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn")), Seq("cid"))
      .select(col("qid"), col("cid"),
        round(cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("cid"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023): embedding near-duplicate pairs found
    * WITHIN k-means cells only — the cluster-partitioned scale path for
    * semantic dedup. Cost drops from all-pairs O(n²) to Σ|cell|², and
    * every emitted pair is exactly refined (same rounded-cosine
    * threshold as [[nearDuplicates]]), so the result is a strict subset
    * of the exact pair set: clustering affects RECALL only — two
    * near-dups in different cells are missed, which is the accepted
    * trade of the published method (recall measured in the q77 gate and
    * OperatorsSpec).
    *
    * `assignProbes` (r13): each vector is SOFT-assigned to its
    * `assignProbes` nearest cells instead of the single argmin — the
    * overlapping-clusters recall lever: a qualifying pair is found iff
    * the two vectors share ANY probed cell, so boundary pairs (the
    * dominant miss class; single-assignment recall fell below the q77
    * gate's 0.5 floor at the sf0.1 tier) are recovered without touching
    * the cluster granularity. Worst-case pair-scan cost grows by
    * assignProbes² (still Σ|cell|²-shaped, never all-pairs); duplicate
    * discoveries across shared cells are collapsed by the final
    * distinct, whose input is hit-bounded (pairs already past the
    * threshold), not candidate-bounded.
    *
    * Scale shape: cell assignment is one narrow model.transform
    * (IvfIndex.build) plus a broadcast-centroid rank (nLists rows per
    * vector, metadata-scale per row); the self-join shuffles once on
    * the cell key, and cells are bounded by construction
    * (assignProbes·corpus/nLists expected size — raise nLists as the
    * corpus grows; a skewed mega-cell would show up in the assignment
    * stats long before the join).
    */
  def clusteredNearDuplicates(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nLists: Int = 16, assignProbes: Int = 2): DataFrame = {
    import spark.implicits._
    val m = IvfIndex.build(spark, df, idCol, vecCol, nLists)
    val cents = broadcast(m.centroids.toSeq.toDF("cell2", "cv"))
    val w = Window.partitionBy(col("id")).orderBy(col("d2"), col("cell"))
    val multi = m.assignments.select(col("id"), col("v"))
      .crossJoin(cents)
      .select(col("id"), col("v"), col("cell2").as("cell"),
        (dot(col("v"), col("v")) - lit(2) * dot(col("v"), col("cv"))
          + dot(col("cv"), col("cv"))).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= assignProbes)
      .select(col("id"), col("v"), col("cell"))
    val base = multi.withColumn("nrm", norm(col("v")))
    val a = base.select(col("cell"), col("id").as("ka"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("cell"), col("id").as("kb"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("ka") < col("kb"))
      .select(col("ka"), col("kb"),
        round(cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Embedding-quality audit: per-label centroid cohesion + the bottomK
    * LEAST-central vectors per label — the mislabeled/garbage-embedding
    * sweep a training pipeline runs before contrastive sampling trusts
    * the labels ([[hardNegatives]] mines by label; a wrong label there
    * poisons pairs, so this audit is its precondition).
    *
    * Output: one row per (label, vec) — (label, vec_id, cos, rn) where
    * cos is the vector's cosine to its label centroid (6dp) and rn ranks
    * ascending cohesion (rn <= bottomK selects the outliers).
    *
    * Determinism across engines (the reason for the decimal hop): the
    * centroid component is sum(x as DECIMAL(28,10)) -> exact,
    * order-independent -> cast DOUBLE once, / n in IEEE double. A plain
    * double avg would expose partial-agg accumulation order. Per-row
    * cosines are then sequential-double dot products (identical in any
    * engine), ranked with a vec_id tiebreak.
    *
    * Scale shape: one explode (rows x dims) + one (label, dim) groupBy;
    * centroids are labels x dims — metadata-scale, broadcast back; the
    * scoring pass is shuffle-free; the rank window partitions by label.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val e = df.select(col(labelCol).as("label"), col(idCol).as("vid"),
      toDouble(col(vecCol)).as("v"))
    val comps = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
        .cast("double") / count(lit(1))).as("c"))
    val cents = comps.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vid"),
        round(cosinePrenormed(dot(col("v"), col("cv")), norm(col("v")), col("cn")), 6).as("cos"))
    val w = Window.partitionBy(col("label")).orderBy(col("cos"), col("vid"))
    scored.withColumn("rn", row_number().over(w))
  }
}
