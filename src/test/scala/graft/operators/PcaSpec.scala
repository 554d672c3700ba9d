package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {

  test("Pca.moments: exact decimal sums on a hand-computable frame") {
    import spark.implicits._
    val vecs = Seq(
      Array(1.0f, 2.0f, 0.5f),
      Array(-1.0f, 0.0f, 0.25f)
    ).toDF("embedding")
    val m = Pca.moments(vecs, "embedding", d = 3)
      .collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")),
        r.getAs[java.math.BigDecimal]("s").doubleValue()))
      .toMap
    assert(m.size == 3 + 6)
    // quantized: Σ floor(x·1e9) in 1e-9 units, Σ products in 1e-18 units
    assert(m((0, -1)) == 0.0)          // 1e9 - 1e9
    assert(m((1, -1)) == 2.0e9)
    assert(m((2, -1)) == 0.75e9)
    assert(m((0, 0)) == 2.0e18)        // 1 + 1
    assert(m((0, 1)) == 2.0e18)        // 1*2 + (-1)*0
    assert(m((0, 2)) == 0.25e18)       // 0.5 - 0.25
    assert(m((1, 2)) == 1.0e18)        // 2*0.5 + 0
    assert(m((2, 2)) == 0.3125e18)     // 0.25 + 0.0625
  }

  test("Pca.moments: fused 128-bit aggregator ≡ generator+decimal spelling") {
    import spark.implicits._
    // real embeddings: the r13 optimization replaced the explode +
    // DECIMAL hash aggregate with the fused Aggregator — every (i, j, s)
    // row must be bit-identical, including the observed-key set
    val e = tables.embeddings
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")),
        r.getAs[java.math.BigDecimal]("s").toBigIntegerExact))
      .toMap
    val fused = rowsOf(Pca.moments(e, "embedding", d = 64))
    val ref = rowsOf(ReferenceSpellings.momentsExpr(e, "embedding", d = 64))
    assert(fused == ref)
    // negative components and a sum that crosses zero (the signed-128-bit
    // carry path), plus repartitioning (merge path) — still identical
    val vecs = Seq(
      Array(-2.5f, 1.5f), Array(2.5f, -1.5f), Array(-0.1f, -0.1f),
      Array(2.8f, 2.8f), Array(-2.8f, 0.0f)
    ).toDF("embedding").repartition(3)
    assert(rowsOf(Pca.moments(vecs, "embedding", d = 2)) ==
      rowsOf(ReferenceSpellings.momentsExpr(vecs, "embedding", d = 2)))
  }

  test("Pca.eigen: recovers analytic eigenpairs of a known 2x2 covariance") {
    // rows chosen so cov = [[2, 1], [1, 2]] exactly: eigenvalues 3 and 1,
    // eigenvectors (1,1)/sqrt2 and (1,-1)/sqrt2
    import spark.implicits._
    val vecs = Seq(
      Array(1.0f, 1.0f), Array(-1.0f, -1.0f),
      Array(2.0f, 0.0f), Array(-2.0f, 0.0f),
      Array(0.0f, 2.0f), Array(0.0f, -2.0f)
    ).toDF("embedding")
    val rows = Pca.moments(vecs, "embedding", d = 2).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"), r.getAs[java.math.BigDecimal]("s")))
    val eig = Pca.eigen(rows.toSeq, n = 6, d = 2)
    // cov = [[10,2],[2,10]]/5 = [[2,.4],[.4,2]]: eigenvalues 2.4, 1.6
    assert(math.abs(eig(0)._1 - 2.4) < 1e-12)
    assert(math.abs(eig(1)._1 - 1.6) < 1e-12)
    val v0 = eig(0)._2
    assert(math.abs(math.abs(v0(0)) - math.sqrt(0.5)) < 1e-9)
    assert(math.abs(v0(0) - v0(1)) < 1e-9) // the (1,1) direction (up to global sign)
  }

  test("Pca.eigen on real embeddings: trace preserved, eigenvectors orthonormal") {
    val e = tables.embeddings
    val n = e.count()
    val rows = Pca.moments(e, "embedding", d = 64).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"), r.getAs[java.math.BigDecimal]("s")))
      .toSeq
    val eig = Pca.eigen(rows, n, d = 64)
    // trace(cov) == sum of eigenvalues (similarity transforms preserve trace)
    val s1 = rows.collect { case (i, -1, s) => i -> s.doubleValue() * 1e-9 }.toMap
    val diag = rows.collect { case (i, j, s) if i == j =>
      (s.doubleValue() * 1e-18 - s1(i) * s1(i) / n) / (n - 1)
    }.sum
    assert(math.abs(diag - eig.map(_._1).sum) < 1e-9 * math.max(1.0, math.abs(diag)))
    // descending, and the spectrum of a covariance is non-negative
    assert(eig.map(_._1).sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(eig.last._1 > -1e-10)
    // orthonormal columns: v_i . v_j = delta_ij (spot-check a few)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    for (i <- Seq(0, 1, 63); j <- Seq(0, 1, 63)) {
      val d = dot(eig(i)._2, eig(j)._2)
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
  }
}
