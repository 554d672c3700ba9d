package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // trailing args (dev-only) restrict the dump to named queries; the
    // driver always passes exactly <sfDir> <outDir>
    val (sfDir, outDir, only) = args.toList match {
      case sf :: out :: rest => (sf, out, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [query ...]")
    }
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    Tables.smokeCheck(spark, sfDir) // fail in seconds, named, on a testdata regen
    CatalogStats.analyze(spark, sfDir) // same CBO stats context as Bench
    new java.io.File(outDir).mkdirs()
    // A crashed query must NOT vanish from the round report (r6: 11 queries
    // silently absent read as 112/112 green). Failure contract: dump a
    // one-row error-marker parquet under the query's own name — the
    // driver's DuckDB compare then records a loud schema/hash MISMATCH for
    // it — and carry every failure into failures.json + a final stdout
    // delta line.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    var dumped = 0
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq(s"VERIFY FAILED: ${msg.take(500)}").toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          dumped += 1
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker dump ALSO failed: ${e2.getMessage}")
        }
      }
      finally spark.catalog.clearCache() // no storage carry-over between queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    spark.stop()
    // Loud exit contract: the delta line is the last stdout line, and a
    // dump shortfall (even the error-marker fallback failed) is a hard
    // assert — a partial dump must never look like a complete one.
    println(s"[verify] dumped $dumped/${selected.size} queries" +
      (if (failures.isEmpty) "" else s"; FAILURES (${failures.size}): ${failures.keys.mkString(", ")}"))
    assert(dumped == selected.size,
      s"verify dump incomplete: $dumped of ${selected.size} " +
        s"(${selected.size - dumped} queries have neither a result nor an error marker)")
  }
}
