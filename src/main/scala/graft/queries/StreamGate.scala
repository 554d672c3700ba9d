package graft.queries

import graft.io.LocalDirs
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The replay driver of the file-source streaming gates (q111, q157,
  * q159, q161, q162, q163): each proves a streaming operator equal to
  * its batch form (SURVEY §2.11) by feeding a real file source one chunk
  * file per micro-batch — write chunk i, drain, write chunk i+1 — so
  * batch composition is deterministic without relying on file-listing
  * order. A gate supplies only what is its own: the chunked input, the
  * JSON schema, an optional sentinel chunk and the operator with its sink
  * (`start`); conf scope and the final aggregation stay in the gate body.
  *
  * Commit-cost note: the gates pin 4 shuffle partitions for the stream's
  * lifetime. A stateful stream's per-batch cost is state-store commit +
  * WAL fsync PER PARTITION, not compute — 32 partitions x 2 join sides x
  * 4 batches is 256 store commits for batch-scale data. The count is
  * pinned by the fresh checkpoint at start, so the conf is scoped to the
  * gate (`SessionConf.withConf`).
  */
object StreamGate {

  /** The state store transformWithState requires (RocksDB), with
    * per-commit row counting off: that is a metrics-only full-store scan
    * no gate reads. (Changelog checkpointing was also tried and measured
    * ~2x worse at the gates' fresh-checkpoint few-commit shape, so
    * full-snapshot commits stay.) */
  val TwsStateStore: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  /** Replays `chunked` (an int `chunk` column, 0 until `chunks`) through
    * a `maxFilesPerTrigger=1` JSON file source over `run/in`, read with
    * `schema`. `run` is reset first; `chunked` is cached so each chunk
    * filter reads one materialization. Chunk 0 is written before the
    * source opens (its glob must match at start); `start` turns the
    * source into a running query, and every later chunk, then the
    * `sentinel` when given, is written and drained in turn. The query is
    * stopped and the frame released also when a batch throws, which
    * then propagates.
    */
  def replay(
      run: String, chunked: DataFrame, chunks: Int, schema: String,
      sentinel: Option[DataFrame] = None)(start: DataFrame => StreamingQuery): Unit = {
    LocalDirs.deleteRecursively(java.nio.file.Paths.get(run))
    val frame = chunked.cache()
    def land(part: DataFrame, name: String): Unit =
      part.coalesce(1).write.json(s"$run/in/$name")
    def chunk(i: Int): Unit = land(frame.filter(col("chunk") === i).drop("chunk"), s"chunk_$i")
    try {
      chunk(0)
      val q = start(frame.sparkSession.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(s"$run/in/*"))
      try {
        q.processAllAvailable()
        (1 until chunks).foreach { i => chunk(i); q.processAllAvailable() }
        sentinel.foreach { s => land(s, "sentinel"); q.processAllAvailable() }
      } finally q.stop()
    } finally frame.unpersist()
  }

  /** `events` (a `ts_us` column of unix micros) tagged with its
    * equal-width event-time slice in `chunk`, 0 until `n`, and the
    * largest `ts_us` (where a sentinel goes past). Slices are contiguous
    * in time: slice k+1's earliest event is at or after slice k's
    * latest, so a replay in slice order never lands a row below a
    * watermark that trails the stream's max event time.
    */
  def timeSlices(events: DataFrame, n: Int): (DataFrame, Long) = {
    val b = events.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    (events.withColumn("chunk", least(lit(n - 1),
      floor((col("ts_us") - lit(lo)) * lit(n.toLong) / lit(hi - lo + 1)).cast("int"))), hi)
  }

  /** A foreachBatch sink of `schema`'s columns: each micro-batch to its
    * own `batch_<id>` dir with overwrite, so a replayed or
    * partially-written batch replaces itself instead of double-appending
    * (the gates assert exact row-set equality). `read` gives the rows of
    * every batch, with the schema given explicitly: a zero-row batch
    * leaves only `_SUCCESS` in its dir.
    */
  final case class BatchDirs(dir: String, schema: String) {
    private val cols = StructType.fromDDL(schema).fieldNames.map(col)
    def write(batch: Dataset[Row], id: Long): Unit =
      batch.select(cols.toIndexedSeq: _*).write.mode("overwrite").parquet(s"$dir/batch_$id")
    def read(spark: SparkSession): DataFrame =
      spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(dir)
  }
}
