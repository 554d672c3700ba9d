package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.{ListenerBusHook, ListenerBusProbe}

/** BenchSlope's runner on the shared session: every timed execution reads
  * its own Spark work, the per-query work accounts for every job the run
  * caused, and the runner leaves no listener behind. */
class BenchSlopeSpec extends SparkSpec {

  test("runner attributes every job to one query execution and removes its listener") {
    val sc = spark.sparkContext
    val subset = SparkEntry.registry
      .filter(q => Set("q03_groupby_agg", "q07_star_join").contains(q.name))
    assert(subset.size == 2)

    /** One runner call, with the jobs an independent listener saw during it. */
    def measured(): (BenchSlope.Result, Long) = {
      val seen = new AtomicLong
      val probe = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { seen.incrementAndGet(); () }
      }
      ListenerBusHook.drain(sc)
      sc.addSparkListener(probe)
      try {
        val r = BenchSlope.run(spark, sfDir, subset)
        val left = ListenerBusProbe.listenerClasses(sc).filter(_.startsWith("graft.BenchSlope$"))
        assert(left.isEmpty, s"runner left its listener attached: $left")
        ListenerBusHook.drain(sc)
        (r, seen.get)
      } finally sc.removeSparkListener(probe)
    }

    val (r1, seen1) = measured()
    val (r2, seen2) = measured()
    for (r <- Seq(r1, r2)) {
      assert(r.failed.isEmpty, r.failed)
      assert(r.work.map(_._1) == Seq("cold", "warm", "warm2"))
      for ((tag, qs) <- r.work) {
        assert(qs.map(_._1) == subset.map(_.name), tag)
        for ((name, w) <- qs) {
          assert(w.jobs >= 1, s"$tag:$name $w")
          assert(w.stages >= 1 && w.tasks >= w.stages, s"$tag:$name $w")
        }
      }
    }
    def jobs(r: BenchSlope.Result): Long = r.work.flatMap(_._2).map(_._2.jobs).sum
    assert(jobs(r1) == seen1, s"per-query jobs ${jobs(r1)} vs $seen1 seen")
    assert(jobs(r2) == seen2, s"per-query jobs ${jobs(r2)} vs $seen2 seen")
    // the second run reads the same work as the first, not twice it: the
    // plans are the same, and each run's counts are its own
    def perQuery(r: BenchSlope.Result) = r.work.map { case (tag, qs) =>
      tag -> qs.map { case (n, w) => n -> w.jobs } }
    assert(perQuery(r2).tail == perQuery(r1).tail,
      s"second run ${perQuery(r2)} vs first ${perQuery(r1)}")
  }
}
