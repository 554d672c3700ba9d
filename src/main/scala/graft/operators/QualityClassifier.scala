package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed linear quality classifier — the "model-based quality filter"
  * step of a training-data pipeline (fastText-style scoring as used by
  * the public CCNet/DCLM recipes): each token hashes into a weight, a
  * document's score is the mean token weight, and documents scoring
  * above the decision threshold are kept.
  *
  * The weights here are derived from md5 of the token itself (a fixed,
  * engine-independent pseudo-model) rather than learned — the point of
  * the operator is the SCORING dataflow, which is what has to survive
  * 100 TB:
  *
  *  - entirely ROW-LOCAL: tokens -> weights -> sum happens inside one
  *    projection via `transform` + `aggregate` higher-order functions,
  *    so the token stream is never exploded and nothing shuffles. A
  *    learned model would replace [[tokenWeight]] with a broadcast
  *    map lookup (`typedlit(weights)(token)`) — same shape, still
  *    row-local.
  *  - exact integer arithmetic: weights are integers in [-1000, 1000]
  *    and the per-doc accumulator is a BIGINT sum, so the score is
  *    independent of token traversal order (a double sum would not be)
  *    and both engines compute bit-identical results.
  *
  * The explode + groupBy spelling of the same score (one full shuffle
  * of the token stream) lives test-side (`ReferenceSpellings`) as the
  * spec cross-check, not the production path.
  */
object QualityClassifier {

  /** Pseudo-model weight for one token: md5-derived integer in
    * [-1000, 1000]. Portable: DuckDB spells the identical arithmetic as
    * `('0x' || substr(md5('w_' || tok), 1, 8))::BIGINT % 2001 - 1000`.
    */
  def tokenWeight(tok: Column): Column =
    conv(substring(md5(concat(lit("w_"), tok)), 1, 8), 16, 10)
      .cast("long") % 2001 - 1000

  /** Per-document classifier score over lowercased alpha tokens.
    * Output: (idCol, n_tokens, weight_sum, score, keep) for docs with at
    * least one token; score = weight_sum / (1000 * n_tokens) in [-1, 1],
    * keep = weight_sum > 0 (the integer spelling of score > 0).
    */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.alphaTokens(col(textCol))
    df.select(col(idCol), toks.as("ts"))
      .filter(size(col("ts")) > 0)
      .select(
        col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        aggregate(col("ts"), lit(0L), (acc, t) => acc + tokenWeight(t))
          .as("weight_sum"))
      .withColumn("score", col("weight_sum") / (lit(1000.0) * col("n_tokens")))
      .withColumn("keep", col("weight_sum") > 0)
  }

  /** Decision-threshold calibration sweep — the evaluation step that has
    * to precede any quality-filter deployment: confusion counts and
    * precision/recall for every candidate threshold against a reference
    * label, in ONE pass over the scored frame (the threshold grid is a
    * broadcast literal; the cross join multiplies rows by |grid| BEFORE
    * the partial aggregation, so nothing but |grid| rows ever shuffles).
    *
    * Thresholds are integer TENTHS (k -> score >= k/10), which keeps the
    * comparison in exact BIGINT arithmetic end to end:
    * score >= k/10  <=>  weight_sum * 10 >= k * 1000 * n_tokens —
    * no float compare can drift a document across a threshold between
    * engines. precision/recall are floor-ppm over exact counts.
    * Output: (thr_tenths, tp, fp, fn, tn, precision_ppm, recall_ppm).
    */
  /** floor(num·10⁶ / den) over EXACT decimal arithmetic for
    * non-negative counts — the (n - n % d) / d truncating-division
    * idiom. The earlier double spelling (`floor(tp·1e6 / den)`) could
    * diverge from integer floor when the IEEE quotient rounds up onto
    * an integer; exact decimals make the "floor-ppm over exact counts"
    * claim true rather than merely cross-engine-coincidental.
    */
  private def ppmExact(num: Column, den: Column): Column = {
    import org.apache.spark.sql.types.DecimalType
    val n = num.cast(DecimalType(38, 0)) * lit(1000000L)
    val d = den.cast(DecimalType(38, 0))
    ((n - (n % d)) / d).cast("long")
  }

  def calibrate(
      scored: DataFrame, truthCol: Column, thresholdTenths: Seq[Int]): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val grid = broadcast(thresholdTenths.toDF("thr_tenths"))
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    scored.withColumn("__truth", truthCol)
      .crossJoin(grid)
      .withColumn("__pred",
        col("weight_sum") * 10 >= col("thr_tenths") * 1000 * col("n_tokens"))
      .groupBy(col("thr_tenths"))
      .agg(
        cnt(col("__pred") && col("__truth")).as("tp"),
        cnt(col("__pred") && !col("__truth")).as("fp"),
        cnt(!col("__pred") && col("__truth")).as("fn"),
        cnt(!col("__pred") && !col("__truth")).as("tn"))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") > 0, ppmExact(col("tp"), col("tp") + col("fp"))))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") > 0, ppmExact(col("tp"), col("tp") + col("fn"))))
      .orderBy(col("thr_tenths"))
  }
}
