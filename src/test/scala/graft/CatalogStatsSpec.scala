package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable

/** `CatalogStats.analyze` registers the catalog tables concurrently, each
  * with its columns declared from the parquet footer, the small ones
  * evaluated interpreted. It must leave the catalog exactly as the
  * sequential, schema-inferring registration with code generation did,
  * with fewer and labelled jobs, and fail one table without hiding it.
  */
class CatalogStatsSpec extends SparkSpec {

  private val names = CatalogStats.ColumnStatTables ++ CatalogStats.PartialColumnStatTables.keys
  private val factoryMode = "spark.sql.codegen.factoryMode"

  /** The registration `analyze` replaced: one table after another, each
    * bare `CREATE TABLE ... LOCATION` inferring its schema through
    * Spark's reader. Registers `<prefix>_<name>`. */
  private def sequentialAnalyze(prefix: String, dir: String): Unit = names.foreach { name =>
    val t = s"${prefix}_$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t USING parquet LOCATION '$dir/$name.parquet'")
    CatalogStats.PartialColumnStatTables.get(name) match {
      case Some(cols) => spark.sql(
        s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${cols.mkString(", ")}")
      case None => spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  private def meta(table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  /** Runs `body` with no table registered, then drops every table it
    * registered and restores the CBO confs `analyze` flips on, so the
    * shared session comes back as found. */
  private def withCleanCatalog(extraTables: String*)(body: => Unit): Unit = {
    val prior = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    CatalogStats.reset(spark)
    try body
    finally {
      extraTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      CatalogStats.reset(spark)
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private def poolThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("catalog-analyze")).toSet

  /** A copy of the sf0.001 tables whose `lineitem` is a generated table
    * of more than `CatalogStats.InterpretedMaxBytes`, so one table takes
    * the code-generated wave and the other eight the interpreted one. */
  private def mixedSizeDir(): String = {
    import org.apache.spark.sql.functions.{col, rand, randn}
    val dir = Files.createTempDirectory("catalog_mixed").toString
    copyDir(sfDir, dir)
    val lineitem = Paths.get(dir, "lineitem.parquet")
    Files.delete(lineitem)
    spark.range(0, 150000, 1, 1)
      .select(col("id").as("l_orderkey"), (col("id") % 7).cast("int").as("l_linenumber"),
        rand(7).as("l_extendedprice"), randn(8).as("l_discount"))
      .write.parquet(lineitem.toString)
    dir
  }

  /** Each table's `factoryMode` job property, by the table its jobs are
    * described with. */
  private def factoryModes(props: Seq[java.util.Properties]): Map[String, Set[Option[String]]] =
    props.groupBy(_.getProperty("spark.job.description").stripPrefix("catalog.analyze "))
      .view.mapValues(_.map(p => Option(p.getProperty(factoryMode))).toSet).toMap

  test("analyze registers the same stats, schema and storage as the sequential spelling, in fewer labelled jobs") {
    // all nine tables interpreted, then eight interpreted and one generated
    Seq(sfDir -> Set.empty[String], mixedSizeDir() -> Set("lineitem")).foreach { case (dir, large) =>
      val bytes = names.map(n => n -> CatalogStats.tableBytes(spark, dir, n)).toMap
      assert(names.filter(bytes(_) > CatalogStats.InterpretedMaxBytes).toSet == large, s"bytes: $bytes")
      assert(!spark.conf.getAll.contains(factoryMode))
      withCleanCatalog(names.map(n => s"graft_ref_$n"): _*) {
        val refJobs = jobsDuring(sequentialAnalyze("graft_ref", dir))
        val sc = spark.sparkContext
        val prevDesc = sc.getLocalProperty("spark.job.description")
        val props = jobPropertiesDuring(CatalogStats.analyze(spark, dir))
        val jobs = props.map(p => String.valueOf(p.getProperty("spark.job.description")))
        assert(sc.getLocalProperty("spark.job.description") == prevDesc,
          "analyze left a job description on the calling thread")
        assert(!spark.conf.getAll.contains(factoryMode), s"analyze left $factoryMode set")
        assert(jobs.nonEmpty && jobs.size < refJobs.size,
          s"analyze ran ${jobs.size} jobs, the sequential spelling ${refJobs.size}")
        assert(jobs.forall(_.startsWith("catalog.analyze ")), s"unlabelled jobs: $jobs")
        // the two stages of each table's ANALYZE aggregate; no inference job
        val perTable = jobs.groupBy(identity).view.mapValues(_.size).toMap
        assert(perTable == names.map(n => s"catalog.analyze $n" -> 2).toMap,
          s"jobs per table: $perTable")
        // interpreted exactly when the table is small; the caller's (unset)
        // mode otherwise
        assert(factoryModes(props) == names.map(n => n -> Set(
          if (bytes(n) <= CatalogStats.InterpretedMaxBytes) Some("NO_CODEGEN") else None)).toMap,
          s"factory modes: ${factoryModes(props)}")
        names.foreach { name =>
          val got = meta(CatalogStats.catalogName(dir, name))
          val ref = meta(s"graft_ref_$name")
          val stats = got.stats.getOrElse(fail(s"$name: analyze left no stats"))
          assert(stats.rowCount.exists(_ > 0), s"$name: no rowCount in $stats")
          assert(stats.colStats.nonEmpty, s"$name: no column stats")
          assert(got.stats == ref.stats, s"$name stats:\n${got.stats}\nvs\n${ref.stats}")
          assert(got.stats.map(_.colStats) == ref.stats.map(_.colStats), s"$name colStats")
          assert(got.schema == ref.schema, s"$name schema: ${got.schema} vs ${ref.schema}")
          assert(got.storage == ref.storage, s"$name storage: ${got.storage} vs ${ref.storage}")
          // every other field too, up to the name and the creation time
          assert(got.copy(identifier = ref.identifier, createTime = ref.createTime,
            lastAccessTime = ref.lastAccessTime) == ref, s"$name:\n$got\nvs\n$ref")
          assert(CatalogStats.resolve(spark, dir, name).isDefined, s"$name does not resolve")
        }
        assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
      }
    }
  }

  test("a table that fails to register fails analyze by name, leaves no thread or job, and re-registers once mended") {
    val copy = Files.createTempDirectory("catalog_fail").toString
    copyDir(sfDir, copy)
    val orders = Paths.get(copy, "orders.parquet")
    orders.toFile.setWritable(true)
    Files.write(orders, "not a parquet file".getBytes("UTF-8"))
    withCleanCatalog() {
      // orders fails in the interpreted wave; the caller's mode comes back
      val err = SessionConf.withConf(spark, factoryMode -> "FALLBACK") {
        val e = intercept[IllegalStateException](CatalogStats.analyze(spark, copy))
        assert(spark.conf.get(factoryMode) == "FALLBACK", "analyze lost the caller's mode")
        e
      }
      assert(err.getMessage.contains("table orders"), err.getMessage)
      assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
      val sc = spark.sparkContext
      org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        s"jobs still running: ${sc.statusTracker.getActiveJobIds.toSeq}")
      assert(CatalogStats.resolve(spark, copy, "orders").isEmpty,
        "the broken table still resolves through the catalog")
      names.filterNot(_ == "orders").foreach { name =>
        assert(CatalogStats.resolve(spark, copy, name).isDefined, s"$name did not register")
      }
      Files.copy(Paths.get(sfDir, "orders.parquet"), orders, StandardCopyOption.REPLACE_EXISTING)
      val jobs = jobsDuring(CatalogStats.analyze(spark, copy))
      assert(jobs.nonEmpty && jobs.forall(_ == "catalog.analyze orders"),
        s"the second analyze re-ran more than the mended table: $jobs")
      assert(!spark.conf.getAll.contains(factoryMode), s"analyze left $factoryMode set")
      val resolved = CatalogStats.resolve(spark, copy, "orders")
        .getOrElse(fail("the mended table did not register"))
      assert(resolved.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
      assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
    }
  }

  test("the interpreted path compiles almost no class where code generation compiles several") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{col, date_add, lit}
    // a column-type sequence no other spec analyzes, so no class generated
    // for its ANALYZE is cached yet in this JVM
    val dir = Files.createTempDirectory("catalog_codegen").toString
    spark.range(0, 500, 1, 1).select(
      (col("id") % 100).cast("tinyint").as("a"), (col("id") / 7).cast("decimal(11,3)").as("b"),
      col("id").cast("float").as("c"), col("id").cast("boolean").as("d"),
      col("id").cast("smallint").as("e"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("f"),
      col("id").cast("string").as("g"))
      .write.parquet(s"$dir/t.parquet")
    val t = "graft_codegen_probe"
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    try {
      spark.sql(s"CREATE TABLE $t USING parquet LOCATION '$dir/t.parquet'")
      val analyzeT = s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"
      val interpreted = compiles(CatalogStats.interpreted(spark)(spark.sql(analyzeT)))
      val generated = compiles(spark.sql(analyzeT))
      // measured on Spark 4.1.2: 1 interpreted (the aggregate's row
      // joiner, which the factory mode does not govern), then 8 generated
      // (9 in a JVM that ran nothing else); a Spark upgrade that drops
      // the mode shows as the first count growing toward the second
      assert(interpreted <= 1 && generated >= 8,
        s"compiles: $interpreted interpreted, $generated generated")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
