package graft.streaming

import graft.SparkSpec
import graft.edi.ClaimMapping
import graft.fixtures.ClaimFixtures
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The streaming claims ingest must (1) produce exactly the batch
  * mapping's rows for the same files and (2) resume from its checkpoint
  * after a restart, processing only new files — the exactly-once
  * file-feed contract a 24/7 claims pipeline depends on.
  */
class ClaimStreamsSpec extends SparkSpec {

  private def copyFixtures(names: Seq[String], dest: String): Unit =
    names.foreach { n =>
      Files.copy(Paths.get(ClaimFixtures.EdiDir, n), Paths.get(dest, n),
        StandardCopyOption.REPLACE_EXISTING)
    }

  test("streamed claims equal the batch mapping, and a restart only reads new files") {
    ClaimFixtures.writeEdi() // ensure fixture corpus exists (no-op if committed)
    val all = new java.io.File(ClaimFixtures.EdiDir).list()
      .filter(_.endsWith(".txt")).sorted.take(5).toSeq
    val (first, second) = all.splitAt(3)

    val inDir = Files.createTempDirectory("claims_in").toString
    val outDir = Files.createTempDirectory("claims_out").toString
    val ckptDir = Files.createTempDirectory("claims_ckpt").toString

    copyFixtures(first, inDir)
    ClaimStreams.ingest(spark, inDir, outDir, ckptDir).awaitTermination()
    val afterFirst = spark.read.parquet(outDir)
    val batchFirst = ClaimMapping.claims(spark, ClaimMapping.readDocs(spark, inDir))
    assert(afterFirst.count() == batchFirst.count())
    assert(afterFirst.exceptAll(batchFirst).count() == 0 &&
      batchFirst.exceptAll(afterFirst).count() == 0)

    // restart with two more files: the checkpoint must skip the first three
    copyFixtures(second, inDir)
    ClaimStreams.ingest(spark, inDir, outDir, ckptDir).awaitTermination()
    val afterSecond = spark.read.parquet(outDir)
    val batchAll = ClaimMapping.claims(spark, ClaimMapping.readDocs(spark, inDir))
    assert(afterSecond.count() == batchAll.count(), "no duplicates, no gaps after resume")
    assert(afterSecond.exceptAll(batchAll).count() == 0 &&
      batchAll.exceptAll(afterSecond).count() == 0)
  }

  test("a trigger of more files than Spark's parallel-listing threshold lists them on the driver") {
    ClaimFixtures.writeEdi()
    val fixture = new java.io.File(ClaimFixtures.EdiDir).list()
      .filter(_.endsWith(".txt")).sorted.head
    val inDir = Files.createTempDirectory("claims_in").toString
    val outDir = Files.createTempDirectory("claims_out").toString
    val ckptDir = Files.createTempDirectory("claims_ckpt").toString
    // 40 files in one trigger: past the default threshold of 32 paths,
    // above which a batch's relation lists its files with a Spark job
    (0 until 40).foreach { i =>
      Files.copy(Paths.get(ClaimFixtures.EdiDir, fixture), Paths.get(inDir, s"c${i}_$fixture"))
    }
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getAll.get(threshold)
    var inputRows = Seq.empty[Long]
    val jobs = jobsDuring {
      val q = ClaimStreams.ingest(spark, inDir, outDir, ckptDir)
      assert(spark.conf.getAll.get(threshold) == before, "ingest changed the caller's conf")
      q.awaitTermination()
      inputRows = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    }
    assert(spark.conf.getAll.get(threshold) == before, "ingest changed the caller's conf")
    assert(inputRows == Seq(40L), s"rows per trigger: $inputRows")
    val listing = jobs.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs: $listing")
    val batch = ClaimMapping.claims(spark, ClaimMapping.readDocs(spark, inDir))
    val streamed = spark.read.parquet(outDir)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
