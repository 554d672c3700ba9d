package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring deduplication signal (Lee et al. 2021, "Deduplicating
  * Training Data Makes Language Models Better"): find every maximal span
  * of a document whose `minLen`-char windows ALL also occur in at least
  * `minDocs` distinct documents, and report how many characters those
  * duplicated spans cover. The suffix-array machinery of the paper is a
  * single-node construction; the Spark-native equivalent is the sliding
  * char-window explode + frequency join below, which reaches the same
  * duplicated-span boundaries for stride-1 windows:
  *
  *  1. every position's `minLen`-char window, hashed to 8 bytes
  *     (xxhash64) so the frequency groupBy and join-back shuffle 8-byte
  *     keys instead of `minLen`-char strings — an intermediate only, so
  *     hash choice never reaches the gated output (collision odds at
  *     ~n²/2⁶⁴ are below any realistic corpus);
  *  2. window → distinct-doc frequency (partial-aggregated groupBy),
  *     shared windows filtered to `>= minDocs`;
  *  3. per-doc island merge of overlapping/adjacent shared windows via
  *     the gaps-and-islands running max — each surviving island is one
  *     maximal duplicated span [s, e).
  *
  * Scale shape: the explode multiplies the corpus by ~1 row per char —
  * the honest cost of EXACT substring dedup — but every stage after it
  * is a key-partitioned aggregate/join on 8-byte keys, and the per-doc
  * window functions partition on doc_id. At 100 TB the direct plan's
  * bottleneck is the n-row frequency shuffle + n-row join-back, so
  * above `MaxDirectDocs` the Auto mode routes through a winnowed
  * candidate-discovery pass first (`SubstringMode.Strided`):
  *
  *  - Discovery hashes k-grams with k = minLen - stride + 1 and keeps,
  *    for every window of `stride` consecutive k-gram hashes, only the
  *    minimum hash — winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03).
  *    Selection depends only on the hash sequence, i.e. only on local
  *    CONTENT, so two docs sharing any span of length >= k + stride - 1
  *    = minLen select at least one identical fingerprint — positional
  *    stride-sampling lacks exactly this alignment invariance. The
  *    whole pass is row-local (the O(chars) WinnowedFingerprints
  *    expression; no explode before selection), and only the
  *    ~2/(stride+1)-density fingerprints reach the single wide stage
  *    (the shared-hash aggregate). Docs sharing a fingerprint with
  *    >= minDocs distinct docs become candidates.
  *
  *  NOTE the asymmetry: discovery benefits from a one-pass expression
  *  because selection collapses rows BEFORE any explode, while the
  *  direct plan keeps the exploded xxhash64(substring(__t, pos, w))
  *  spelling on purpose — explode + hash + partial-agg fuse into one
  *  whole-stage-codegen stage there, and breaking that fusion with an
  *  interpreted array-building expression measured 3x SLOWER at
  *  ~300-char docs (the O(pos) substring re-walk only wins on long
  *  documents).
  *  - Refine runs the exact stride-1 plan over candidate docs only.
  *    Every doc containing a qualifying window is guaranteed to be a
  *    candidate (the winnowed fingerprint of a shared span is selected
  *    in EVERY doc carrying that content, so its discovery df >= the
  *    window's df), hence refine-on-subset reaches identical span
  *    boundaries to the direct plan — modulo the same ~n²/2⁶⁴ xxhash64
  *    collision odds the direct plan already carries.
  */
object SubstringDedup {

  /** Above this many docs, Auto routes through strided discovery: the
    * direct plan's two n-row wide stages stop being affordable before
    * the row-local discovery pass does.
    */
  val MaxDirectDocs = 65536L

  sealed trait SubstringMode
  object SubstringMode {
    /** Probe doc count; direct under `maxDirect`, strided above (logged). */
    case object Auto extends SubstringMode
    /** Pin the exact one-row-per-char plan regardless of size. */
    case object Direct extends SubstringMode
    /** Pin winnowed discovery + stride-1 refine. */
    case object Strided extends SubstringMode
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-doc duplicated-span stats: (doc_id, n_islands, removed_chars,
    * remaining_chars) for docs carrying at least one shared window.
    * Results are identical across modes (discovery is lossless for spans
    * >= minLen); only the plan differs.
    */
  def spanStats(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, minDocs: Int = 2,
      mode: SubstringMode = SubstringMode.Auto, stride: Int = 8,
      maxDirect: Long = MaxDirectDocs): DataFrame = mode match {
    case SubstringMode.Direct => spanStatsDirect(docs, idCol, textCol, minLen, minDocs)
    case SubstringMode.Strided =>
      spanStatsStrided(docs, idCol, textCol, minLen, minDocs, stride)
    case SubstringMode.Auto =>
      // bounded probe, not a full count — same pattern as Dedup.clusters
      val over = docs.limit((maxDirect + 1).toInt).count() > maxDirect
      if (over) {
        log.info(s"spanStats: auto-switch to strided discovery (> $maxDirect docs); " +
          "results are identical — pass mode=Direct to pin the one-row-per-char plan")
        spanStatsStrided(docs, idCol, textCol, minLen, minDocs, stride)
      } else spanStatsDirect(docs, idCol, textCol, minLen, minDocs)
  }

  private def spanStatsDirect(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int): DataFrame = {
    // windows: (doc_id, len, pos, h) — text dropped before the shuffle
    val wins = docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        length(col(textCol)).as("len"))
      .withColumn("pos", explode(sequence(lit(1), col("len") - (minLen - 1))))
      .select(col("doc_id"), col("len"), col("pos"),
        xxhash64(expr(s"substring(__t, pos, $minLen)")).as("h"))
    val cached = wins.cache()
    // minDocs=2 (the common case) needs no distinct count at all:
    // "two distinct docs" is min != max, and min/max partial-aggregate
    // fully map-side where countDistinct's two-phase plan must shuffle
    // the (h, doc_id) pair stream
    val freq =
      if (minDocs == 2)
        cached.groupBy(col("h"))
          .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
          .filter(col("d0") =!= col("d1")).select("h")
      else
        cached.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("wdf"))
          .filter(col("wdf") >= minDocs).select("h")
    val shared = cached.join(freq, Seq("h")).select("doc_id", "len", "pos")
    // gaps-and-islands: a window starts a new island when it begins past
    // the furthest end seen so far in this doc
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + minLen)
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val islands = shared
      .withColumn("new_island",
        when(col("pos") > coalesce(prevEnd, lit(0L)), 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(max(col("len")).as("len"), min(col("pos")).as("s"),
        (max(col("pos")) + minLen).as("e"))
    islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("removed_chars"),
        (max(col("len")) - sum(col("e") - col("s"))).as("remaining_chars"))
  }

  /** Winnowed candidate discovery: the docs that can possibly carry a
    * shared window (see object scaladoc). Exposed for testing; the
    * returned frame has one `doc_id` column.
    */
  def candidateDocs(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int, stride: Int): DataFrame = {
    require(stride >= 2, s"stride must be >= 2, got $stride (use Direct mode for stride 1)")
    require(minLen - stride + 1 >= 4,
      s"discovery gram length ${minLen - stride + 1} too short: need stride <= minLen - 3")
    // All row-local until the explode of the winnowed fingerprints
    // (WinnowedFingerprints: one codepoint pass + monotone-deque sliding
    // min — O(chars), vs the HOF spelling's O(chars * stride) slice
    // copies, kept test-side for the equality spec). Frame count is
    // length - minLen + 1, the same as the direct plan's window count,
    // but only ~2/(stride+1) of positions survive selection (consecutive
    // frames mostly re-select the same minimum).
    val fps = candidateFingerprints(docs, idCol, textCol, minLen, stride)
    val shared =
      if (minDocs == 2)
        fps.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
          .filter(col("d0") =!= col("d1")).select("fp")
      else
        fps.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= minDocs).select("fp")
    fps.join(shared, Seq("fp")).select("doc_id").distinct()
  }

  /** The per-doc winnowed fingerprint rows (doc_id, fp) via the O(chars)
    * WinnowedFingerprints expression; package-visible for the
    * expression-vs-HOF equality spec.
    */
  private[operators] def candidateFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, stride: Int): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, WinnowedFingerprints}
    docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"),
        explode(ColumnBridge.toColumn(WinnowedFingerprints(
          ColumnBridge.toExpression(col(textCol)), minLen, stride))).as("fp"))
  }

  private def spanStatsStrided(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int, stride: Int): DataFrame = {
    val cand = candidateDocs(docs, idCol, textCol, minLen, minDocs, stride)
      .select(col("doc_id").as("__cand"))
    spanStatsDirect(
      docs.join(cand, col(idCol) === col("__cand")).drop("__cand"),
      idCol, textCol, minLen, minDocs)
  }
}
