package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable

/** `CatalogStats.analyze` registers the catalog tables concurrently, each
  * with its columns declared from the parquet footer. It must leave the
  * catalog exactly as the sequential, schema-inferring registration did,
  * with fewer and labelled jobs, and fail one table without hiding it.
  */
class CatalogStatsSpec extends SparkSpec {

  private val names = CatalogStats.ColumnStatTables ++ CatalogStats.PartialColumnStatTables.keys

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

  test("analyze registers the same stats, schema and storage as the sequential spelling, in fewer labelled jobs") {
    withCleanCatalog(names.map(n => s"graft_ref_$n"): _*) {
      val refJobs = jobsDuring(sequentialAnalyze("graft_ref", sfDir))
      val sc = spark.sparkContext
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val jobs = jobsDuring(CatalogStats.analyze(spark, sfDir))
      assert(sc.getLocalProperty("spark.job.description") == prevDesc,
        "analyze left a job description on the calling thread")
      assert(jobs.nonEmpty && jobs.size < refJobs.size,
        s"analyze ran ${jobs.size} jobs, the sequential spelling ${refJobs.size}")
      assert(jobs.forall(_.startsWith("catalog.analyze ")), s"unlabelled jobs: $jobs")
      // the two stages of each table's ANALYZE aggregate; no inference job
      val perTable = jobs.groupBy(identity).view.mapValues(_.size).toMap
      assert(perTable == names.map(n => s"catalog.analyze $n" -> 2).toMap,
        s"jobs per table: $perTable")
      names.foreach { name =>
        val got = meta(CatalogStats.catalogName(sfDir, name))
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
        assert(CatalogStats.resolve(spark, sfDir, name).isDefined, s"$name does not resolve")
      }
      assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
    }
  }

  test("a table that fails to register fails analyze by name, leaves no thread or job, and re-registers once mended") {
    val copy = Files.createTempDirectory("catalog_fail").toString
    copyDir(sfDir, copy)
    val orders = Paths.get(copy, "orders.parquet")
    orders.toFile.setWritable(true)
    Files.write(orders, "not a parquet file".getBytes("UTF-8"))
    withCleanCatalog() {
      val err = intercept[IllegalStateException](CatalogStats.analyze(spark, copy))
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
      val resolved = CatalogStats.resolve(spark, copy, "orders")
        .getOrElse(fail("the mended table did not register"))
      assert(resolved.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
      assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
    }
  }
}
