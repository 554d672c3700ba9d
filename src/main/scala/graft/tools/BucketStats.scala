package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MinHashLSH}

/** Diagnostic: LSH bucket-occupancy histogram for the banding a corpus
  * produces — the statistic that decides where the hot-bucket split
  * threshold should bind (MinHashLSH.cappedBucketPairs scaladoc). Run
  * per tier:
  *
  * {{{ SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.BucketStats /root/testdata/sf0.1" }}}
  *
  * Prints, for the plain q35-style banding AND the q139 temporal-cell
  * banding, the bucket count per occupancy decade plus the total
  * all-pairs candidate work (sum of C(occ, 2)) each decade contributes —
  * the quadratic term the split exists to bound.
  */
object BucketStats {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val sh = Dedup.charShingles(docs, "doc_id", "text").cache()
      val sigs = MinHashLSH.signatures(sh, 128).cache()
      val plain = MinHashLSH.bandKeys(sigs, 32, 4)
        .select(col("doc_id"), col("band"), col("bkey"))
      report("plain banding (q35)", plain)
      // q139's temporal banding: horizon-14 cells over t = (doc_id*37)%365,
      // each row replicated into its own cell and the next
      val ts = docs.select(col("doc_id"), ((col("doc_id") * 37) % 365).as("__t"))
      val cell = floor(col("__t").cast("double") / 14.0).cast("long")
      val temporal = MinHashLSH.bandKeys(sigs.join(ts, "doc_id"), 32, 4)
        .withColumn("__cell", explode(array(cell, cell + lit(1L))))
        .select(col("doc_id"), col("band"),
          xxhash64(col("bkey"), col("__cell")).as("bkey"))
      report("temporal banding (q139)", temporal)
      sigs.unpersist(); sh.unpersist()
      ()
    } finally spark.stop()
  }

  private def report(label: String, banded: DataFrame): Unit = {
    val h = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(floor(log2(col("occ"))).cast("long").as("occ_log2"))
      .agg(count(lit(1)).as("n_buckets"), max(col("occ")).as("max_occ"),
        sum((col("occ") * (col("occ") - 1) / 2).cast("long")).as("pair_work"))
      .orderBy(col("occ_log2"))
      .collect()
    println(s"== $label ==")
    println(f"${"occ in"}%12s ${"n_buckets"}%10s ${"max_occ"}%8s ${"pair_work"}%12s")
    h.foreach { r =>
      val lo = 1L << r.getLong(0); val hi = (1L << (r.getLong(0) + 1)) - 1
      println(f"[$lo%5d,$hi%6d] ${r.getLong(1)}%10d ${r.getLong(2)}%8d ${r.getLong(3)}%12d")
    }
  }
}
