package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Independent, slower formulations of shipped operators, kept only as
  * the references the specs pin those operators against: a fused or
  * one-pass operator must reproduce its reference's rows exactly.
  */
object ReferenceSpellings {

  /** [[MinHashLSH.signatures]] as `numPerms` separate min() columns over
    * the same base hash and permutation parameters.
    */
  def signaturesExpr(shingles: DataFrame, numPerms: Int = 128): DataFrame = {
    val h = pmod(xxhash64(col("s")), lit(MinHashLSH.Prime))
    val minCols: Seq[Column] = MinHashLSH.permParams(numPerms).grouped(2).toSeq
      .zipWithIndex.map { case (Array(a, b), i) =>
        min(pmod(h * a + b, lit(MinHashLSH.Prime))).as(s"m$i")
      }
    shingles
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until numPerms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** [[Dedup.charShingles]] as transform/substring — quadratic in the
    * text length, since substring walks from the first codepoint.
    */
  def charShinglesExpr(
      df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("__lt"))
      .select(
        col("doc_id"),
        explode(array_distinct(expr(
          s"transform(sequence(1, length(__lt) - ${n - 1}), i -> substring(__lt, i, $n))"
        ))).as("s"))

  /** [[Pca.moments]] as a generator plus a DECIMAL(38,0) hash aggregate. */
  def momentsExpr(vecs: DataFrame, vecCol: String, d: Int): DataFrame = {
    require(d > 0 && d <= 1024, s"d=$d out of the tall-skinny regime")
    val spark = vecs.sparkSession
    import spark.implicits._
    val xq = transform(col(vecCol), x =>
      when(abs(x) < 2.9f, floor(x * lit(1e9)).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"Pca.moments: |$vecCol| component out of quantization range: "),
          x.cast("string")))))
    // Per element i: one (j = -1, xi) first-moment term, then the
    // upper-triangle products against the tail x[i..d). slice() is
    // 1-based; its idx lambda arg is a 0-based offset into the tail.
    val terms = concat(
      array(struct(lit(-1).as("j"), $"xi".as("s"))),
      transform(
        slice($"__xq", $"i" + 1, lit(d) - $"i"),
        (xj, off) => struct(($"i" + off).as("j"), ($"xi" * xj).as("s"))))
    vecs.select(xq.as("__xq"))
      .select($"__xq", posexplode($"__xq").as(Seq("i", "xi")))
      .select($"i", explode(terms).as("t"))
      .groupBy($"i", $"t.j".as("j"))
      .agg(sum($"t.s".cast(DecimalType(38, 0))).as("s"))
  }

  /** [[SimHash.packed]] as 64 bit rows per token and a two-stage
    * aggregation.
    */
  def packedViaBitRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    SimHash.bitRows(docs, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(
        sum(expr("IF(pos < 32, shiftleft(CAST(sbit AS BIGINT), pos), 0L)")).as("lo"),
        sum(expr("IF(pos >= 32, shiftleft(CAST(sbit AS BIGINT), pos - 32), 0L)")).as("hi"))

  /** [[QualityClassifier.score]] as an explode + groupBy — shuffles the
    * whole token stream.
    */
  def scoreExploded(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(TextFunctions.alphaTokens(col(textCol))).as("tok"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(QualityClassifier.tokenWeight(col("tok"))).as("weight_sum"))
      .withColumn("score", col("weight_sum") / (lit(1000.0) * col("n_tokens")))
      .withColumn("keep", col("weight_sum") > 0)

  /** [[SubstringDedup.candidateFingerprints]] as higher-order functions —
    * O(chars * stride) slice copies.
    */
  def winnowedHof(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, stride: Int): DataFrame = {
    val k = minLen - stride + 1
    docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .withColumn("__hs", expr(
        s"transform(sequence(1, length(__t) - ${k - 1}), p -> xxhash64(substring(__t, p, $k)))"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, length(__t) - ${minLen - 1}), " +
          s"i -> array_min(slice(__hs, i, $stride))))")).as("fp"))
  }

  /** [[graft.functions.TextFunctions.wordNgrams]] as an interpreted
    * transform/slice over the token array.
    */
  def wordNgramsExpr(text: Column, n: Int): Column = {
    val ts = TextFunctions.tokens(text)
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }
}
