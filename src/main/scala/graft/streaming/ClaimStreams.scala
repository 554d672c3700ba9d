package graft.streaming

import graft.edi.ClaimMapping
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SessionClone
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1+S7 composed: the streaming claims-feed ingest. A production 837
  * feed is a directory that keeps receiving interchange files; each new
  * file is whole-text read, envelope-split (one interchange -> N ST..SE
  * transactions), parsed, and mapped to the normalized claims schema —
  * all in the same stateless narrow stages the batch path uses
  * (`ClaimMapping.parseDocs`/`claims`), so batch and stream are the
  * same code and produce identical rows. The parquet sink + checkpoint
  * give exactly-once file-level processing: a restart resumes from the
  * checkpoint without reprocessing or duplicating claims.
  *
  * At scale the file source lists incrementally (maxFilesPerTrigger
  * bounds each micro-batch) and every stage is shuffle-free, so
  * ingest throughput is executor-bound, not coordination-bound.
  */
object ClaimStreams {

  /** Unbounded claims DataFrame over a watched EDI directory.
    *
    * `filesPerTrigger` trades latency against per-batch overhead: each
    * micro-batch pays a fixed planning + checkpoint-fsync + sink-commit
    * cost (~0.5 s), so a catch-up over a large backlog wants batches big
    * enough to amortize it (claim files are KB-scale — thousands per
    * batch is cheap), while a latency-sensitive tail wants small ones.
    */
  def claims(spark: SparkSession, inDir: String, filesPerTrigger: Int = 1024): DataFrame = {
    import spark.implicits._
    val raw = spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", filesPerTrigger)
      .textFile(inDir)
    ClaimMapping.claims(spark, ClaimMapping.parseDocs(spark, raw))
  }

  /** Start the checkpointed parquet ingest; `availableNow` processes the
    * current backlog then stops (the batch-catchup pattern), otherwise
    * the query runs until stopped.
    *
    * A batch's relation lists its files with a Spark job, one task per
    * file, when they number more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32), so a
    * 1024-file trigger spent most of its time listing. The stream reads
    * from a clone of `spark` whose threshold is `filesPerTrigger`: its
    * batches list on the driver, and the caller's conf is untouched. A
    * setting scoped around `start()` would not reach the listing: the
    * file source reads the conf of the session it was read from, when
    * each batch runs. The query belongs to the clone, so `spark.streams`
    * does not list it; stop or await the returned handle.
    */
  def ingest(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      availableNow: Boolean = true,
      filesPerTrigger: Int = 1024): StreamingQuery = {
    val stream = SessionClone(spark)
    stream.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", filesPerTrigger.toString)
    val writer = claims(stream, inDir, filesPerTrigger).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
