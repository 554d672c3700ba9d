package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document line-level deduplication (SURVEY.md §2.12, L2/L4 family):
  * the boilerplate-stripping step of web-corpus pipelines — lines that
  * recur across many *distinct* documents (copyright footers, navigation
  * chrome, cookie banners) are removed from every document, leaving the
  * per-document unique prose.
  *
  * This is NOT pair enumeration: the unit of comparison is the individual
  * line, so cost is linear in total line count regardless of how many
  * documents share a line — the same reason `crossDocGramStats` (q75)
  * outlives LSH at extreme corpus sizes.
  *
  * Scale posture (100 TB): three shuffles, all key-partitioned —
  * (1) line-frequency aggregation (`countDistinct` plans as two-phase
  * partial aggregation, map-side combine first); (2) the join back, whose
  * build side is only the lines ABOVE the threshold (boilerplate is by
  * definition a tiny fraction of distinct lines, so AQE broadcasts it);
  * (3) per-document reassembly. Nothing touches the driver; no step is
  * quadratic in anything.
  */
object LineDedup {

  /** INTRA-document line dedup — the within-page complement of [[strip]]:
    * repeated lines inside one document (duplicated nav blocks, pasted
    * footers) collapse to their first occurrence, in order. Unlike the
    * cross-document form this needs NO aggregation at all: the whole
    * computation is one `aggregate` higher-order fold over the line
    * array, so it is row-local, shuffle-free, and composes into any
    * projection. (The fold probes `array_contains` per line — O(L²) in a
    * document's line count, the right trade at web-page line counts;
    * a posexplode + min(pos) groupBy spelling shuffles the entire line
    * stream instead.)
    *
    * Returns a struct column `(n_lines, n_removed, clean_text)`.
    */
  def stripWithinDoc(text: Column): Column = {
    val dedup = aggregate(
      split(text, "\n"),
      struct(
        lit(Array.empty[String]).as("kept"),
        lit(0L).as("removed")),
      (acc, x) => struct(
        when(array_contains(acc.getField("kept"), x), acc.getField("kept"))
          .otherwise(array_append(acc.getField("kept"), x)).as("kept"),
        when(array_contains(acc.getField("kept"), x), acc.getField("removed") + 1L)
          .otherwise(acc.getField("removed")).as("removed")))
    struct(
      size(split(text, "\n")).cast("long").as("n_lines"),
      dedup.getField("removed").as("n_removed"),
      array_join(dedup.getField("kept"), "\n").as("clean_text"))
  }

  /** Strip boilerplate lines from every document.
    *
    * Returns one row per input document: `(idCol, n_lines, n_removed,
    * clean_text)` where `clean_text` is the surviving lines re-joined in
    * their original order (empty string when every line was boilerplate —
    * the document row itself always survives, so downstream length/quality
    * filters see it and can drop it explicitly).
    */
  def strip(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int): DataFrame = {
    val lines = docs.select(
      col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    // Derived from `lines` so the split expression exists once; the
    // frequency branch prunes to (line, id) at the scan, so the second
    // pass over the corpus reads only the text column it re-splits.
    val bp = lines
      .groupBy("line")
      .agg(countDistinct(col(idCol)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .select(col("line"), lit(true).as("bp"))
    lines
      .join(bp, Seq("line"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("bp"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(when(col("bp").isNull,
              struct(col("pos"), col("line"))))),
            x => x.getField("line"))).as("clean_text"))
  }
}
