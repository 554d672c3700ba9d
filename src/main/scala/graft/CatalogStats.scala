package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** CBO wiring (SURVEY §4.2): registers the sf parquet tables as EXTERNAL
  * catalog tables (`graft_<name>`, prefixed so q58/q59-style temp views
  * never shadow them), runs `ANALYZE TABLE` for table + column stats,
  * and enables cost-based join reorder. Once registered for a dir,
  * [[Tables.table]] resolves through the catalog so every registry query
  * plans against real cardinalities — at 100 TB these would be the
  * metastore stats a nightly ANALYZE maintains; the harness computes
  * them once per session (Bench/Verify call [[analyze]] at startup).
  *
  * Set-up cost: each table registers on its own thread, so the nine
  * small ANALYZE aggregates overlap instead of queueing one after
  * another. Each `CREATE TABLE` declares its columns from the parquet
  * footer ([[Tables.footerSchema]], read on the driver), which drops
  * the schema-inference job a bare `CREATE TABLE ... LOCATION` runs.
  * What remains is two jobs per table, both the ANALYZE's one
  * `count(1)` + column-stats aggregate (the table-level row count
  * rides the same aggregate): under AQE its partial-aggregate map
  * stage runs as one job and the single-partition final aggregate as
  * a second. Neither result is held by another job, so nine tables
  * cost 18 jobs, each described `catalog.analyze <table>`.
  *
  * Most of what is left is compiling those aggregates. Spark keys its
  * generated-class cache by the class loader as well as the source, and
  * each new SparkContext gives its executor a new loader, so every new
  * session recompiled the same ~73 ANALYZE classes (1-2 s of compile
  * CPU). A table of at most [[InterpretedMaxBytes]] parquet bytes
  * therefore ANALYZEs on Spark's interpreted path
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, which also turns off
  * whole-stage codegen); the larger tables run as a second wave with
  * the caller's conf. The stats are the same either way: HLL++,
  * min/max, null counts and lengths are one algorithm on both paths.
  * ANALYZE of one table in a fresh session, 4 warm reps (4-core host):
  *
  * {{{
  *   table                      bytes       codegen  interpreted
  *   lineitem sf0.01            1.04 MB     471 ms   301 ms
  *   customer, documents        34-595 KB   171-188  68-86 ms
  *   orders sf0.1               2.72 MB     261 ms   361 ms
  *   lineitem sf0.1             10.8 MB     631 ms   1772 ms
  * }}}
  *
  * TPC-H tables and `documents` get `FOR ALL COLUMNS` (ndv/min/max feed
  * the join-reorder cost model — and avgLen feeds CBO's Project SIZE
  * estimate, which matters more than reorder for the text tables: with
  * only table-level stats, CBO sized a narrow (doc_id, ts) projection of
  * `documents` at full-table bytes, un-broadcasting q139's per-candidate
  * timestamp joins into 20M-row sort-merge joins — the r10 ledger's
  * "23x superlinear" row was THIS misplan, not the LSH algorithm).
  * `embeddings` gets column stats for its scalar columns only (column
  * stats are undefined on array columns).
  */
object CatalogStats {

  /** Tables eligible for catalog registration. `events` stays path-based:
    * its TIMESTAMP(NANOS) read needs the legacy-conf + cast wrapper in
    * Tables.events, which a bare catalog scan would bypass.
    */
  val ColumnStatTables = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents")
  /** name -> the scalar columns to ANALYZE (array columns are ineligible). */
  val PartialColumnStatTables = Map("embeddings" -> Seq("vec_id", "label"))

  /** Parquet bytes at or under which a table ANALYZEs interpreted: the
    * crossover in the table above lies between 1 and 2.7 MB. At 100 TB
    * every table is far above it. */
  val InterpretedMaxBytes: Long = 2L << 20

  // (dir, name) registered in this session — Tables consults this so
  // catalog resolution only ever serves the dir the stats were built for
  private val registered = scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

  /** Catalog names carry a dir digest: two dirs analyzed in one session
    * (dev flows, test JVMs) register DISTINCT tables instead of the
    * second DROP+CREATE silently repointing the first dir's resolution.
    * The digest is the first 8 bytes of MD5 — 32-bit String.hashCode
    * collides plausibly across a session's dirs, and a collision would
    * re-create exactly the silent cross-dir serving the digest exists to
    * prevent; 64 collision-resistant bits make it negligible.
    */
  def catalogName(dir: String, name: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(
      dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val digest = md5.take(8).map(b => f"$b%02x").mkString
    s"graft_${digest}_$name"
  }

  /** Register + analyze all eligible tables for `dir`, enable CBO.
    * Each table not yet registered in this session runs on its own
    * thread of a pool made for this call, in two waves: the tables of at
    * most [[InterpretedMaxBytes]] interpreted, then the rest with the
    * caller's conf. Every table finishes before a failure is rethrown
    * (the first in table order, named); a failed table stays
    * unregistered, so [[resolve]] serves its path read.
    */
  def analyze(spark: SparkSession, dir: String): Unit = synchronized {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // the memo is JVM-global but catalog tables are per-session: a
    // fresh session after spark.stop() must re-register + re-ANALYZE,
    // not silently no-op into stat-less path reads
    val todo = (ColumnStatTables ++ PartialColumnStatTables.keys).filter { name =>
      !registered.contains((dir, name)) || !spark.catalog.tableExists(catalogName(dir, name))
    }
    if (todo.nonEmpty) {
      // a table whose size cannot be read goes with the caller's conf,
      // where its registration fails the same way
      val (small, large) = todo.partition(name =>
        Try(tableBytes(spark, dir, name)).toOption.exists(_ <= InterpretedMaxBytes))
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(todo.size, { (r: Runnable) =>
        val t = new Thread(r, "catalog-analyze")
        t.setDaemon(true)
        threads.add(t)
        t
      })
      def wave(names: Seq[String]): Seq[(String, Try[Unit])] =
        names.zip(pool.invokeAll(names.map { name =>
          (() => Try(register(spark, dir, name))): Callable[Try[Unit]]
        }.asJava).asScala.map(_.get))
      val outcomes =
        try (interpreted(spark)(wave(small)) ++ wave(large)).toMap
        finally {
          // joined, not awaitTermination'd: the pool reports terminated
          // while its last worker thread is still exiting
          pool.shutdownNow()
          threads.forEach(_.join())
        }
      val failures = todo.flatMap(name => outcomes(name).failed.toOption.map(name -> _))
      failures.headOption.foreach { case (name, e) =>
        val err = new IllegalStateException(
          s"CatalogStats.analyze: table $name ($dir/$name.parquet) failed: ${e.getMessage}", e)
        failures.tail.foreach { case (_, other) => err.addSuppressed(other) }
        throw err
      }
    }
  }

  /** The bytes under a table's parquet path, from one file-system call on
    * the driver and no Spark job. */
  private[graft] def tableBytes(spark: SparkSession, dir: String, name: String): Long = {
    val p = new Path(s"$dir/$name.parquet")
    p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
  }

  /** Runs `body` with Spark's expression and whole-stage code generation
    * off (`NO_CODEGEN`: projections, predicates and operators run
    * interpreted; the aggregate's row joiner, which the mode does not
    * govern, still compiles, one class per ANALYZE), then puts the
    * caller's setting back. */
  private[graft] def interpreted[T](spark: SparkSession)(body: => T): T =
    SessionConf.withConf(spark, "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** DROP, CREATE and ANALYZE one table, its jobs described
    * `catalog.analyze <name>`; registered only once all three succeed. */
  private def register(spark: SparkSession, dir: String, name: String): Unit = {
    SessionConf.withJobDescription(spark.sparkContext, s"catalog.analyze $name") {
      val t = catalogName(dir, name)
      val loc = s"$dir/$name.parquet"
      registered.remove((dir, name))
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(
        s"CREATE TABLE $t (${Tables.footerSchema(spark, loc).toDDL}) USING parquet LOCATION '$loc'")
      PartialColumnStatTables.get(name) match {
        case Some(cols) => spark.sql(
          s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${cols.mkString(", ")}")
        case None =>
          spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      registered.put((dir, name), ())
    }
  }

  /** Drop every table this session registered and forget them — restores
    * path-based resolution (tests that flip CBO state on use this to
    * leave the shared session as they found it).
    */
  def reset(spark: SparkSession): Unit = synchronized {
    registered.keys.foreach { case (dir, name) =>
      spark.sql(s"DROP TABLE IF EXISTS ${catalogName(dir, name)}")
    }
    registered.clear()
  }

  /** The catalog frame for (dir, name) when registered there, else None.
    * `registered` is JVM-global while the catalog is per-SparkSession, so
    * a fresh session after spark.stop() re-checks existence and falls
    * back to the path read instead of throwing TABLE_OR_VIEW_NOT_FOUND.
    */
  def resolve(spark: SparkSession, dir: String, name: String) =
    if (registered.contains((dir, name)) &&
        spark.catalog.tableExists(catalogName(dir, name)))
      Some(spark.table(catalogName(dir, name)))
    else None
}
