package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** `Tables.footerSchema` reads what Spark's reader infers, with no job, and
  * `Tables.smokeCheck` names every schema problem of a testdata dir in one
  * error. */
class TablesSpec extends SparkSpec {

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** A copy of the sf0.001 tables with the named faults:
    * `renamed` (region.r_name renamed), `retyped` (nation.n_name an int)
    * and `garbage` (supplier.parquet not parquet). The first two are
    * rewritten as Spark part-file directories. */
  private def brokenCopy(faults: String*): String = {
    val dir = Files.createTempDirectory("tables_smoke").toString
    copyDir(sfDir, dir)
    def rewrite(name: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val df = f(spark.read.parquet(s"$sfDir/$name.parquet"))
      Files.delete(Paths.get(dir, s"$name.parquet"))
      df.write.parquet(s"$dir/$name.parquet")
    }
    if (faults.contains("renamed")) rewrite("region")(_.withColumnRenamed("r_name", "r_title"))
    if (faults.contains("retyped"))
      rewrite("nation")(_.withColumn("n_name", col("n_nationkey").cast("int")))
    if (faults.contains("garbage")) {
      val f = Paths.get(dir, "supplier.parquet")
      f.toFile.setWritable(true)
      Files.write(f, "garbage, not parquet".getBytes("UTF-8"))
    }
    dir
  }

  private def smokeError(dir: String): String =
    intercept[RuntimeException](Tables.smokeCheck(spark, dir)).getMessage

  test("footerSchema equals the schema Spark's reader infers, for files and part-file dirs, with no job") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01"); name <- tableNames) {
      val path = s"$dir/$name.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(jobsDuring(assert(Tables.footerSchema(spark, path) == inferred, path)).isEmpty,
        s"footerSchema($path) ran a Spark job")
    }
    val parts = Files.createTempDirectory("tables_parts").toString + "/orders.parquet"
    spark.read.parquet(s"$sfDir/orders.parquet").repartition(3).write.parquet(parts)
    assert(Tables.footerSchema(spark, parts) == spark.read.parquet(parts).schema)
  }

  test("smokeCheck passes a clean testdata dir with zero Spark jobs") {
    assert(jobsDuring(Tables.smokeCheck(spark, sfDir)).isEmpty)
  }

  test("smokeCheck reports a renamed column as MISSING") {
    val msg = smokeError(brokenCopy("renamed"))
    assert(msg.contains("region.r_name: MISSING"), msg)
    assert(msg.contains("r_title"), msg)
  }

  test("smokeCheck reports a wrong type with the accepted ones") {
    val msg = smokeError(brokenCopy("retyped"))
    assert(msg.contains("nation.n_name: found int, expected one of string"), msg)
  }

  test("smokeCheck reports a garbage file as unreadable") {
    val msg = smokeError(brokenCopy("garbage"))
    assert(msg.contains("supplier: unreadable"), msg)
  }

  test("smokeCheck lists every problem in one error") {
    val msg = smokeError(brokenCopy("renamed", "retyped", "garbage"))
    Seq("region.r_name: MISSING", "nation.n_name: found int", "supplier: unreadable")
      .foreach(p => assert(msg.contains(p), s"missing '$p' in:\n$msg"))
    assert(msg.split("\n").count(_.startsWith("  ")) == 3, msg)
  }
}
