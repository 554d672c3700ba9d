package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: a Spark-side builder plus (optionally) the equivalent
  * DuckDB SQL the driver's oracle runs over the same parquet tables.
  * Queries without an oracle get a weaker rows-only check (SURVEY.md §2.14).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
)(val build: (SparkSession, String) => DataFrame) {
  def run(spark: SparkSession, dir: String): DataFrame = build(spark, dir)
}

object QueryDef {
  /** Query with a DuckDB oracle (the normal case). */
  def apply(name: String, oracleSql: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracleSql.stripMargin.trim))(build)
}
