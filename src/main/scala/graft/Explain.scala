package graft

/** Plan inspector: prints the formatted physical plan for the named queries
  * (all queries when none named) so scan pushdown (`PushedFilters`,
  * `ReadSchema`), join strategies (BroadcastHashJoin vs SortMergeJoin), and
  * WholeStageCodegen spans can be reviewed per operator.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = args.drop(1).toSet
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    // same planning context as Bench/Verify: catalog stats + CBO, so the
    // dumped plans are the plans the harness actually runs
    CatalogStats.analyze(spark, sfDir)
    SparkEntry.registry
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try q.run(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
