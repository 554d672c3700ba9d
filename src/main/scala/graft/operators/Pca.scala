package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Tall-skinny PCA over an embedding column — the dimensionality-
  * reduction / whitening step before ANN indexing or SemDeDup-style
  * audits (classic two-phase scheme, e.g. Halko et al. 2011 §4 for the
  * tall-skinny regime): the DATA-SCALE phase reduces N×d rows to a d×d
  * moment matrix in one pass; the eigensolve on that d×d matrix is
  * driver-side metadata work (d is 64–1024 while N is billions — the
  * matrix is a few KB).
  *
  * The moment phase is EXACT and order-free: each float is quantized
  * ONCE by floor(x·10⁹) — a deterministic double multiply + floor with
  * NO round-half tie semantics (a float→DECIMAL cast is not portable:
  * Spark rounds the value's shortest string representation while SQL
  * engines round the binary value, and the two disagree on near-tie
  * mantissas). From there everything is integer arithmetic: products
  * fit a long (|x| < ~9 ⇒ |xi·xj| < 8·10¹⁹? no — quantized |xi| ≤
  * 9·10⁹ would overflow, hence the require below bounds |x| < 2.9),
  * sums accumulate in DECIMAL(38,0) (associative ⇒ bit-identical
  * under any partitioning or AQE re-plan — and identical to a SQL
  * oracle's completely different derivation). Compare the naive
  * distributed spelling (explode to (vec, i, x) then self-join on
  * vec): that shuffles N·d rows twice and pays an N·d² join. Here
  * each row emits its d(d+1)/2 products through a nested generator
  * (posexplode + a transform over the remaining tail) into ONE
  * partial-aggregated groupBy — NOT a d²-literal projection, which
  * blows past the JIT method-size ceiling at d = 64 — so the only
  * shuffle is the ~d²/2-key partial-aggregate merge, independent
  * of N.
  */
object Pca {

  /** Exact moment rows (i, j, s) over xi = floor(x_i·10⁹) for
    * `vecCol: Array[Float]` of length up to `d`; j = -1 rows carry
    * Σ xi (units 10⁻⁹), j >= i rows Σ xi·xj (units 10⁻¹⁸).
    * Components must satisfy |x| < 2.9 so the long product can't
    * overflow (embeddings are unit-norm-ish; a violation means the
    * column isn't one — enforced with raise_error, never a silent
    * wrap).
    */
  def moments(vecs: DataFrame, vecCol: String, d: Int): DataFrame = {
    require(d > 0 && d <= 1024, s"d=$d out of the tall-skinny regime")
    val spark = vecs.sparkSession
    // Fused one-pass form (r13): the explode spelling (PcaSpec's
    // reference) shipped N·d(d+3)/2 struct rows through a
    // DECIMAL(38,0) hash aggregate — ~4.3 M generator rows at a mere
    // 2 k×64 input, measured as the whole cost of the q141/q142/q154
    // family. Here each row's d(d+3)/2 products accumulate into ONE
    // signed-128-bit (hi, lo per slot) primitive buffer inside a typed
    // Aggregator (the MinHashAggregator idiom): per-partition partials,
    // one metadata-scale merge, zero generator rows, zero decimal
    // arithmetic until the final d²-bounded re-expansion. The integer
    // sums are identical — quantization is the same floor(x·1e9)
    // double→long per component, products the same longs, and 128-bit
    // two's-complement addition is exact — so the emitted
    // (i, j, DECIMAL(38,0)) rows are bit-identical to the explode
    // spelling (PcaSpec pins the equivalence).
    val agg = org.apache.spark.sql.functions.udaf(new MomentAggregator(d))
    val bufRow = vecs.select(agg(col(vecCol)).as("buf")).head()
    val buf: Array[Long] =
      if (bufRow.isNullAt(0)) Array.fill(2 * MomentAggregator.nSlots(d) + 1)(0L)
      else bufRow.getAs[scala.collection.Seq[Long]](0).toArray
    val maxLen = buf.last.toInt
    def s128(slot: Int): java.math.BigDecimal = {
      val hi = buf(2 * slot); val lo = buf(2 * slot + 1)
      val v = (BigInt(hi) << 64) + BigInt(java.lang.Long.toUnsignedString(lo))
      new java.math.BigDecimal(v.bigInteger)
    }
    // observed-key contract of the explode spelling: a row of length L
    // touches exactly the keys with indices < L, so the union over rows
    // is every (i, -1) and (i <= j) with indices < max row length
    val rows = for {
      i <- 0 until maxLen
      j <- -1 +: (i until maxLen)
    } yield org.apache.spark.sql.Row(
      i, j, s128(if (j < 0) i else MomentAggregator.prodSlot(d, i, j)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("s", DecimalType(38, 0))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Merge shard moment frames into the whole-corpus matrix. The
    * integer sums are associative, so unioned partials re-aggregate to
    * EXACTLY the single-pass result — the incremental-maintenance path:
    * a new embedding batch's d²/2-row summary folds into the persisted
    * one without touching historical vectors (same discipline as
    * SignatureIndex.merge / IvfIndex.append).
    */
  def merge(shards: Seq[DataFrame]): DataFrame = {
    require(shards.nonEmpty, "no shards")
    shards.reduce(_ unionByName _)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast(DecimalType(38, 0)).as("s"))
  }

  /** Driver-side eigensolve of the COVARIANCE matrix assembled from
    * [[moments]] rows and the row count `n`: cyclic Jacobi on the d×d
    * symmetric matrix (Golub & Van Loan §8.5). Returns eigenvalues in
    * descending order paired with their (unit) eigenvectors. The
    * metadata-scale step by design — never ship N rows to the driver,
    * ship the d×d summary.
    */
  def eigen(
      moments: Seq[(Int, Int, java.math.BigDecimal)],
      n: Long, d: Int): Array[(Double, Array[Double])] =
    eigenOfSymmetric(covariance(moments, n, d))

  /** Assemble the d×d covariance from [[moments]] rows — the exact
    * double-arithmetic spelling (s2·10⁻¹⁸ − (s1·10⁻⁹)·(s1·10⁻⁹)/n) /
    * (n−1) over the exact integer sums, which an independent engine
    * computing the SAME IEEE expression over the SAME integers
    * reproduces bit-for-bit — the property q154's trace/Frobenius
    * hash gate rides.
    */
  def covariance(
      moments: Seq[(Int, Int, java.math.BigDecimal)],
      n: Long, d: Int): Array[Array[Double]] = {
    require(n > 1, "need at least two rows for a covariance")
    val s1 = Array.ofDim[Double](d)
    val s2 = Array.ofDim[Double](d, d)
    moments.foreach { // un-quantize: Σxi in 10⁻⁹ units, Σxi·xj in 10⁻¹⁸
      case (i, -1, s) => s1(i) = s.doubleValue() * 1e-9
      case (i, j, s)  =>
        val v = s.doubleValue() * 1e-18
        s2(i)(j) = v; s2(j)(i) = v
    }
    Array.tabulate(d, d)((i, j) =>
      (s2(i)(j) - s1(i) * s1(j) / n) / (n - 1))
  }

  /** Cyclic Jacobi on a symmetric matrix (see [[eigen]]). */
  def eigenOfSymmetric(a0: Array[Array[Double]]): Array[(Double, Array[Double])] = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a, d)
    // scale-relative termination: drive the off-diagonal Frobenius mass
    // below ~1e-13 of the matrix's own norm (Jacobi converges
    // quadratically, so the extra sweeps past the old absolute 1e-12
    // cut are 1–2) — per-entry eigen residuals then land at
    // ~1e-13·‖A‖, which is what lets q154 flag-gate ‖Cv−λv‖∞ at a
    // 1e-9 envelope instead of the 1e-5 the loose cut allowed
    val frobSq = {
      var s = 0.0; var i = 0
      while (i < d) { var j = 0; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    val tol = math.max(1e-300, frobSq * 1e-26)
    while (off > tol && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-18) rotate(a, v, p, q, d)
          q += 1
        }
        p += 1
      }
      off = offDiag(a, d)
      sweep += 1
    }
    (0 until d).map(i => (a(i)(i), (0 until d).map(v(_)(i)).toArray))
      .sortBy(-_._1).toArray
  }

  private def offDiag(a: Array[Array[Double]], d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
    s
  }

  /** One Jacobi rotation zeroing a(p)(q), accumulating into v. */
  private def rotate(
      a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int, d: Int): Unit = {
    val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
    val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
      case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0)) // theta == 0
      case x   => x
    }
    val c = 1.0 / math.sqrt(t * t + 1.0)
    val s = t * c
    var k = 0
    while (k < d) {
      val akp = a(k)(p); val akq = a(k)(q)
      a(k)(p) = c * akp - s * akq
      a(k)(q) = s * akp + c * akq
      k += 1
    }
    k = 0
    while (k < d) {
      val apk = a(p)(k); val aqk = a(q)(k)
      a(p)(k) = c * apk - s * aqk
      a(q)(k) = s * apk + c * aqk
      val vkp = v(k)(p); val vkq = v(k)(q)
      v(k)(p) = c * vkp - s * vkq
      v(k)(q) = s * vkp + c * vkq
      k += 1
    }
  }
}
