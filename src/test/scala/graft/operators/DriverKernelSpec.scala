package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions.toDouble
import graft.streaming.DedupStreams
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** The one driver-kernel bound at its edges: the primitive's per-task
  * stop, its driver-side sums, its cancellation and the bound it reports
  * one byte or one row past, and the gates with a row limit run one row
  * either side of `DriverKernel.MaxRows`. The containment scan (all
  * pairs of 65,536 documents) and PageRank's 1M-node limit are too large
  * for a unit spec and rely on the same row check the primitive's specs
  * cover. Each gate's run one byte short of the budget sits in the spec
  * of its operator (OperatorsSpec, SubstringDedupSpec), its trigger
  * counterpart in MinHashKernelSpec and DedupStreamsSpec.
  */
class DriverKernelSpec extends SparkSpec {

  import spark.implicits._

  private def sc = spark.sparkContext

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find(_.isInstanceOf[Join]).isDefined

  /** (result, job descriptions) of `body`. */
  private def withJobs[T](body: => T): (T, Seq[String]) = {
    var out: Option[T] = None
    val jobs = jobsDuring { out = Some(body) }
    (out.get, jobs)
  }

  /** (result, successful tasks of the jobs `body` starts) of `body`. A
    * task of an earlier cancelled job can still end after that job has,
    * so tasks count only in the stages of jobs started here. */
  private def withFinishedTasks[T](body: => T): (T, Int) = {
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason == Success && stages.contains(e.stageId)) finished.incrementAndGet()
    }
    org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
      (out, finished.get)
    } finally sc.removeSparkListener(listener)
  }

  // ---- the primitive ----------------------------------------------------

  test("a task stops pulling rows once its partition passes a bound") {
    val pulled = sc.longAccumulator("pulled")
    def run(maxRows: Long) = DriverKernel.collect(
      sc.parallelize(1 to 1000, 1).map { i => pulled.add(1); i }, "spec.collect", maxRows)(
      identity)(_ => 8L)
    pulled.reset()
    assert(withDriverBudget(80L)(run(DriverKernel.MaxRows)) == Left(DriverKernel.OverBudget))
    assert(pulled.value == 11L, s"past the byte bound the task pulled ${pulled.value} rows")
    pulled.reset()
    assert(run(5L) == Left(DriverKernel.OverRows))
    assert(pulled.value == 6L, s"past the row limit the task pulled ${pulled.value} rows")
  }

  test("the driver sums bytes and rows across 4 partitions; past one, it reports which") {
    // 4 partitions of 10 elements, 8 bytes each: 80 B per partition,
    // 320 B and 40 rows in all — every partition alone is within bounds
    val rdd = sc.parallelize(1 to 40, 4)
    def run(budget: Long, maxRows: Long) =
      withDriverBudget(budget)(DriverKernel.collect(rdd, "spec.collect", maxRows)(
        (i: Int) => i.toLong)(_ => 8L)).map(_.toSeq)
    assert(run(320L, 40L) == Right((1L to 40L).toSeq), "at both bounds")
    assert(run(319L, 40L) == Left(DriverKernel.OverBudget), "at budget + 1 bytes")
    assert(run(320L, 39L) == Left(DriverKernel.OverRows), "at row limit + 1 rows")
  }

  test("the driver cancels the collect once its sums pass a bound, whatever the partition count") {
    // 200 partitions of 5 elements, 8 bytes each: 40 B and 5 rows per
    // partition, each within both bounds alone. Past them after 3
    // partitions, the job is cancelled: only the tasks already running
    // finish (4 task slots)
    def run(budget: Long, maxRows: Long) = withDriverBudget(budget)(withFinishedTasks(
      DriverKernel.collect(sc.parallelize(1 to 1000, 200).mapPartitions { it =>
        Thread.sleep(20); it
      }, "spec.collect", maxRows)((i: Int) => i)(_ => 8L)))
    val (overBudget, budgetTasks) = run(80L, DriverKernel.MaxRows)
    assert(overBudget == Left(DriverKernel.OverBudget))
    assert(budgetTasks < 20, s"past the budget $budgetTasks of 200 tasks finished")
    val (overRows, rowTasks) = run(DriverKernel.BudgetBytes, 10L)
    assert(overRows == Left(DriverKernel.OverRows))
    assert(rowTasks < 20, s"past the row limit $rowTasks of 200 tasks finished")
    // within both bounds every partition comes back, in order
    val (all, allTasks) = run(DriverKernel.BudgetBytes, DriverKernel.MaxRows)
    assert(all.map(_.toSeq) == Right(1 to 1000) && allTasks == 200)
  }

  test("the collect runs one described job and restores the caller's description, also on a throw") {
    sc.setJobDescription("outer")
    try {
      val (rows, jobs) = withJobs(DriverKernel.collectRows(
        Seq((1L, "a", Seq(1.0, 2.0)), (2L, null, Seq.empty[Double])).toDF("id", "s", "v"),
        "spec.collect"))
      assert(jobs == Seq("spec.collect"), s"jobs: $jobs")
      assert(rows.map(_.toSeq) == Right(
        Seq((1L, "a", Seq(1.0, 2.0)), (2L, null, Seq.empty[Double])).toDF("id", "s", "v")
          .collect().toSeq), "collectRows must give what collect() gives")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      intercept[Exception](DriverKernel.collect(
        sc.parallelize(1 to 4, 2), "spec.throw")((i: Int) =>
        if (i == 3) throw new IllegalStateException("boom") else i)(_ => 4L))
      assert(sc.getLocalProperty("spark.job.description") == "outer",
        "a failed collect must restore the caller's description")
    } finally sc.setJobDescription(null)
  }

  // ---- the gates at the row limit -----------------------------------------

  /** Random 12-digit hex documents: no two are near-duplicates. */
  private def hexDocs(n: Long): DataFrame = spark.range(1, n + 1)
    .select(col("id").as("doc_id"), substring(md5(col("id").cast("string")), 1, 12).as("text"))

  /** A streaming trigger's survivors, index members and index sigs, its
    * jobs, and whether the driver kernel ran (only it fills the store). */
  private def trigger(batch: DataFrame) = {
    val root = java.nio.file.Files.createTempDirectory("driver_kernel_trigger").toString
    val store = new InMemoryMembershipStore
    val (_, jobs) = withJobs(DedupStreams.dedupBatch(
      batch, s"$root/out", s"$root/index", threshold = 0.7, batchId = 0, store = Some(store)))
    val rows = Seq(
      spark.read.parquet(s"$root/out").select(col("doc_id"), col("text")),
      SignatureIndex.members(spark, s"$root/index").select(col("band"), col("bkey"), col("doc_id")),
      SignatureIndex.sigs(spark, s"$root/index").select(col("doc_id"), col("sig8")))
    (rows, jobs, store.knownPaths.nonEmpty)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("streaming trigger: DriverKernel.MaxRows rows run the kernel, one more runs distributed") {
    val n = DriverKernel.MaxRows.toLong
    val (at, atJobs, atKernel) = trigger(hexDocs(n))
    val (past, pastJobs, pastKernel) = trigger(hexDocs(n + 1))
    assert(atKernel && atJobs == Seq("dedup.collect batch=0"), s"at the limit: $atJobs")
    assert(!pastKernel && pastJobs.head == "dedup.collect batch=0" && pastJobs.tail.nonEmpty,
      s"past the limit: $pastJobs")
    // the extra document is novel: it survives and is indexed, and the
    // rest of both runs agree
    assert(at.head.count() == n)
    at.zip(past).foreach { case (a, p) =>
      assert(p.filter(col("doc_id") === n + 1).count() > 0)
      assert(sameRows(p.filter(col("doc_id") =!= n + 1), a))
    }
  }

  private def cosinePairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("ka"), col("kb"), col("cos")).as[(Long, Long, Double)].collect().toSet

  test("nearDuplicates: DriverKernel.MaxRows vectors are exact, one more switches to buckets") {
    // 4-dim vectors from id hashes; the last one points away from all
    // the others, so it is in no pair
    def vecs(n: Long) = spark.range(1, n + 1).select(col("id").as("vec_id"),
      when(col("id") === n, array(lit(-1.0), lit(-1.0), lit(-1.0), lit(-1.0)))
        .otherwise(array((0 until 4).map(d =>
          (pmod(xxhash64(col("id"), lit(d)), lit(1000)) + 1).cast("double")): _*))
        .as("embedding"))
    val n = DriverKernel.MaxRows.toLong
    val (at, atJobs) = withJobs(SimilaritySearch.nearDuplicates(vecs(n), "vec_id", "embedding", 0.9999))
    var past: DataFrame = null
    var pastJobs: Seq[String] = null
    // the collect counted the rows, so the vectors are not counted
    // before the switch (OperatorsSpec's cosine test sees that count one
    // byte past the budget)
    val counted = countsDuring {
      pastJobs = jobsDuring {
        past = SimilaritySearch.nearDuplicates(vecs(n + 1), "vec_id", "embedding", 0.9999)
      }
    }
    assert(atJobs == Seq("similarity.collect") && !hasJoin(at), s"at the limit: $atJobs")
    assert(pastJobs.head == "similarity.collect" && hasJoin(past) &&
      !counted.contains(Seq("vec_id", "embedding")), s"past the limit: $pastJobs, $counted")
    val exact = cosinePairs(at)
    val bucketed = cosinePairs(past)
    assert(bucketed == cosinePairs(
      SimilaritySearch.nearDuplicatesBucketed(vecs(n + 1), "vec_id", "embedding", 0.9999)),
      "past the limit the hyperplane-bucketed path runs")
    assert(exact.nonEmpty && bucketed.subsetOf(exact), "the bucketed path must refine to exact pairs")
  }

  private def jaccardRows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("da"), col("db"), col("jaccard")).as[(Long, Long, Double)].collect().toSet

  test("jaccardForPairs: DriverKernel.MaxRows documents run the kernel, one more the join") {
    // 8-letter texts over a 3-letter alphabet: at most 27 distinct
    // 3-grams, so the bitmap strategy holds; the candidates leave the
    // last document out
    def shingles(n: Long) = Dedup.charShingles(spark.range(1, n + 1).select(
      col("id").as("doc_id"),
      concat((0 until 8).map(k =>
        substring(lit("abc"), (pmod(xxhash64(col("id"), lit(k)), lit(3)) + 1).cast("int"), lit(1))): _*)
        .as("text")), "doc_id", "text", n = 3)
    val cand = (1L until 2000L).map(i => (i, i + 1)).toDF("da", "db")
    val n = DriverKernel.MaxRows.toLong
    val (at, atJobs) = withJobs(Dedup.jaccardForPairs(shingles(n), cand, 0.3))
    val (past, pastJobs) = withJobs(Dedup.jaccardForPairs(shingles(n + 1), cand, 0.3))
    assert(atJobs.contains("jaccard.collect") && !hasJoin(at), s"at the limit: $atJobs")
    assert(pastJobs.contains("jaccard.collect") && hasJoin(past), s"past the limit: $pastJobs")
    val rows = jaccardRows(at)
    assert(rows.nonEmpty && jaccardRows(past) == rows)
    spark.catalog.clearCache()
  }
}
