package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.SessionConf.withConf
import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQueryException

/** Session hygiene of the file-source replay gates: each runs its stream
  * inside the shared sweep session, so after a gate (and after a replay
  * whose stream fails) no query may still be running, no frame may stay
  * cached and the session conf must be as the caller left it.
  */
class StreamGateSpec extends SparkSpec {

  import spark.implicits._

  private val gates = Seq(
    "q111_stream_dedup", "q157_stream_sessionization", "q159_stream_stream_join",
    "q161_stream_stream_outer", "q162_bounded_sessions", "q163_stream_stream_full")

  private def assertClean(what: String, confBefore: Map[String, String]): Unit = {
    assert(spark.streams.active.isEmpty,
      s"$what left running: ${spark.streams.active.map(_.name).mkString(", ")}")
    assert(spark.sharedState.cacheManager.isEmpty, s"$what left a cached frame")
    assert(spark.conf.getAll == confBefore, s"$what changed the session conf")
  }

  test("every replay gate leaves no running stream, cached frame or conf change") {
    // suites share one session: start from an empty cache so any frame a
    // gate leaves persisted shows
    spark.catalog.clearCache()
    val confBefore = spark.conf.getAll
    for (name <- gates) {
      val gate = SparkEntry.registry.find(_.name == name).getOrElse(fail(s"no gate $name"))
      assert(gate.run(spark, sfDir).collect().nonEmpty, s"$name returned no rows")
      assertClean(name, confBefore)
    }
  }

  test("a replay whose first batch throws propagates the failure and leaves nothing behind") {
    spark.catalog.clearCache()
    val confBefore = spark.conf.getAll
    val run = s"${Files.createTempDirectory("stream_gate_fail")}/run"
    val chunked = Seq(1L -> 0, 2L -> 1).toDF("id", "chunk")
    val failing: (Dataset[Row], Long) => Unit =
      (_, id) => throw new IllegalStateException(s"batch $id failed")
    val e = intercept[StreamingQueryException] {
      withConf(spark, "spark.sql.shuffle.partitions" -> "2") {
        StreamGate.replay(run, chunked, 2, "id LONG") { stream =>
          stream.writeStream
            .option("checkpointLocation", s"$run/ckpt")
            .foreachBatch(failing)
            .start()
        }
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("batch 0 failed")),
      s"the batch's own failure did not propagate: $e")
    // the second chunk was never landed: the failure stopped the replay
    assert(!Files.exists(java.nio.file.Paths.get(s"$run/in/chunk_1")))
    assertClean("a failed replay", confBefore)
  }
}
