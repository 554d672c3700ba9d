package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.DriverParquet
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided analytics tables (TESTDATA.md).
  *
  * All tables are parquet; schemas are fixed (FIXTURES.md §1) and never
  * inferred. Every reader goes through `table()` so scan options (pushdown,
  * pruning) are uniform. At 100 TB these would be partitioned/bucketed
  * catalog tables; the access pattern (named handles, no path literals in
  * query code) is the same.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  /** Catalog-resolved when CatalogStats.analyze registered this dir (the
    * plan then carries ANALYZE stats for CBO), plain path scan otherwise.
    */
  def table(name: String): DataFrame =
    CatalogStats.resolve(spark, dir, name)
      .getOrElse(spark.read.parquet(s"$dir/$name.parquet"))

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.ts has shipped in three parquet spellings across testdata
    * generations — TIMESTAMP(NANOS) (read as BIGINT under the legacy
    * conf), TIMESTAMP_MICROS with isAdjustedToUTC=false (Spark reads
    * TIMESTAMP_NTZ), and UTC-adjusted TIMESTAMP — so the loader adapts to
    * the schema it actually finds instead of assuming one. All downstream
    * code sees a session-TZ TimestampType at microsecond precision; with
    * the session pinned to UTC (Verify/Bench/tests) every spelling lands
    * on the same instants DuckDB's naive read of the same file produces.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df =
      try table("events")
      catch { case e: Throwable
        if e.getMessage != null && e.getMessage.contains("NANOS") =>
          // legacy NANOS tier: only reachable via the conf, and only set
          // when that tier is actually present (not on every call)
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table("events")
      }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => sys.error(
        s"events.ts: unsupported parquet type $other — expected " +
          "TIMESTAMP(NANOS)-as-LONG, TIMESTAMP_NTZ, or TIMESTAMP (see TESTDATA.md)")
    }
  }
  /** The documents corpus feeds the engine's explode-heavy pipelines
    * (char shingles ~1 row/char, substring windows, token explodes), so
    * its scan is wrapped in the scale-adaptive fan-out below: a small
    * single-split file otherwise serializes the whole first stage —
    * scan + shingle + hash + partial-agg all on one task (guide §2.5,
    * "input skew: one huge unsplittable file ... repartition immediately
    * after the read"). At 100 TB the corpus arrives as thousands of
    * splits and the fan-out is a provable no-op (no shuffle inserted).
    */
  def documents: DataFrame  = Tables.fanOutScan(table("documents"))
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Scale-adaptive scan fan-out: hash-redistribute a frame across the
    * session's default parallelism ONLY when its planned scan has fewer
    * partitions (a few small files / one split), so downstream row-
    * multiplying stages (explodes, per-char window hashing, signature
    * aggregation) don't run serially on one task. Keyless repartition is
    * deliberate — Spark's sort-before-repartition (SPARK-23207) keeps the
    * row-to-partition assignment deterministic under retries; the sort is
    * over the under-parallel (small by construction) input. When the scan
    * already fans out — every real deployment tier — the frame is
    * returned untouched: no shuffle, no plan change. Filters/pruning
    * still push through the inserted Repartition node to the scan
    * (PushDownPredicates handles Repartition), verified in the committed
    * plans (PushedFilters unchanged).
    */
  private[graft] def fanOutScan(df: DataFrame): DataFrame = {
    // width = parallelism/4, floor 4: wide enough that a 0.5-2 s serial
    // explode/signature stage becomes sub-300ms tasks, narrow enough that
    // the multi-action pipelines over the (cached) result don't pay
    // `actions x width` task-launch rounds for hundreds-of-KB partitions
    // (width=32 measured: q35 +25 s of summed task overhead for zero wall
    // win; width=8 keeps the q102-family win at a quarter the overhead)
    val target = math.max(4, df.sparkSession.sparkContext.defaultParallelism / 4)
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Required columns and acceptable Catalyst types per table, by
    * `DataType.simpleString`. Alternatives encode the spellings the
    * loaders adapt to (timestamps NTZ/TZ/raw-long; int/bigint keys) —
    * anything outside them is a testdata generation the code has never
    * seen and must fail NAMED, in seconds, not as a mid-round analysis
    * error in whichever query touches the column first (r6: a silent
    * events.ts re-spelling cost 11 queries their correctness entries).
    */
  private val Expected: Seq[(String, Seq[(String, Set[String])])] = {
    val key  = Set("int", "bigint")
    val ts   = Set("timestamp", "timestamp_ntz", "bigint")
    val num  = Set("double", "float", "decimal")
    Seq(
      "region"     -> Seq("r_regionkey" -> key, "r_name" -> Set("string")),
      "nation"     -> Seq("n_nationkey" -> key, "n_name" -> Set("string"), "n_regionkey" -> key),
      "customer"   -> Seq("c_custkey" -> key, "c_name" -> Set("string"),
                          "c_nationkey" -> key, "c_acctbal" -> num, "c_mktsegment" -> Set("string")),
      "supplier"   -> Seq("s_suppkey" -> key, "s_name" -> Set("string"),
                          "s_nationkey" -> key, "s_acctbal" -> num),
      "part"       -> Seq("p_partkey" -> key, "p_name" -> Set("string"), "p_brand" -> Set("string"),
                          "p_type" -> Set("string"), "p_size" -> key, "p_retailprice" -> num),
      "orders"     -> Seq("o_orderkey" -> key, "o_custkey" -> key, "o_orderstatus" -> Set("string"),
                          "o_totalprice" -> num, "o_orderdate" -> ts, "o_orderpriority" -> Set("string")),
      "lineitem"   -> Seq("l_orderkey" -> key, "l_partkey" -> key, "l_suppkey" -> key,
                          "l_linenumber" -> key, "l_quantity" -> num, "l_extendedprice" -> num,
                          "l_discount" -> num, "l_tax" -> num, "l_returnflag" -> Set("string"),
                          "l_linestatus" -> Set("string"), "l_shipdate" -> ts),
      "events"     -> Seq("event_id" -> key, "ts" -> ts, "user_id" -> key,
                          "event_type" -> Set("string"), "value" -> num, "props" -> Set("string")),
      "documents"  -> Seq("doc_id" -> key, "text" -> Set("string"), "lang" -> Set("string"),
                          "source" -> Set("string"), "n_chars" -> key),
      "embeddings" -> Seq("vec_id" -> key, "embedding" -> Set("array<float>", "array<double>"),
                          "label" -> key))
  }

  /** The data schema `spark.read.parquet(path).schema` gives, read from
    * the first data file's footer on the driver
    * ([[org.apache.spark.sql.graft.DriverParquet.schemaOf]]), with none
    * of the schema-inference job Spark's reader runs for it. `path` is a
    * parquet file or a directory of part files; as in Spark's listing,
    * names starting with `_` or `.` are not data files.
    */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status = fs.getFileStatus(p)
    val files =
      if (status.isFile) Seq(status)
      else fs.listStatus(p).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName)
    require(files.nonEmpty, s"$path: no parquet data files")
    DriverParquet.schemaOf(spark, files)
  }

  /** Footer-only schema assertion over every table in `dir`: each problem
    * is reported as table.column (found vs expected), all tables checked
    * before failing so one regeneration surfaces its full blast radius in
    * a single message. Run by Verify and Bench at session startup. Each
    * schema comes from [[footerSchema]], so the check runs no Spark job.
    */
  def smokeCheck(spark: SparkSession, dir: String): Unit = {
    val problems = Expected.flatMap { case (name, cols) =>
      val schemaOrErr =
        try Right(footerSchema(spark, s"$dir/$name.parquet"))
        catch {
          // TIMESTAMP(NANOS) without the legacy conf: a known-good events
          // spelling (Tables.events handles it), not a smoke failure
          case e: Throwable if e.getMessage != null && e.getMessage.contains("NANOS") => Left(None)
          case e: Throwable => Left(Some(s"$name: unreadable — ${e.getMessage}"))
        }
      schemaOrErr match {
        case Left(err) => err.toSeq
        case Right(schema) => cols.flatMap { case (col, accepted) =>
          schema.find(_.name == col) match {
            case None => Some(s"$name.$col: MISSING (have: ${schema.fieldNames.mkString(", ")})")
            case Some(f) =>
              val t = f.dataType.simpleString
              if (accepted.exists(a => t == a || t.startsWith(a + "("))) None
              else Some(s"$name.$col: found $t, expected one of ${accepted.mkString("/")}")
          }
        }
      }
    }
    if (problems.nonEmpty) sys.error(
      s"TESTDATA SCHEMA MISMATCH in $dir — the driver likely regenerated " +
        s"/root/testdata with new logical types; adapt the named loaders in " +
        s"Tables.scala:\n  ${problems.mkString("\n  ")}")
  }
}
