package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusHook

/** Scale-slope ledger runner, and the one timing runner for a named subset
  * of the registry: measure it at SPARK_GRAFT_SF_DIR so per-query
  * sf1/sf0.1 scaling ratios become a committed artifact instead of prose
  * (r9 verdict item 4 — the 100 TB design claims: moment reduction
  * independent of N, banded dedup linear in docs, bucketed join
  * exchange-free).
  *
  * Same measurement discipline as [[Bench]]: its untimed prologue, its
  * prebuild of the index-backed members (build is ingest cost, not probe
  * cost), one cold pass, two warm passes with the per-query min reported
  * (the quiet-host best-of policy Bench applies via its resweeps). Query
  * names come from SPARK_GRAFT_BENCH_ONLY (comma-separated); default = the
  * r10 sf0.1 top-15 by warm time plus the three reference-mapping queries
  * (dir-independent — their ratio ~1 is the control row).
  *
  * Every pass also records, per query, the Spark work the execution
  * caused: jobs, stages, tasks, summed executor task time, and shuffle
  * read/write bytes. On a host whose load moves the wall column 2-4x
  * between passes, these counts are exact per plan and are what an
  * optimization actually changes.
  */
object BenchSlope {
  private val DefaultSubset = Seq(
    // top-15 by warm time in bench_out/bench_sf0.1_r10.json
    "q133_index_append", "q111_stream_dedup", "q155_kv_store_admission",
    "q157_stream_sessionization", "q131_index_admission", "q136_index_merge",
    "q154_pca_eigen", "q139_temporal_neardup", "q102_substring_dedup",
    "q141_pca_moments", "q124_incremental_neardup", "q130_refresh_pipeline",
    "q35b_minhash_lsh", "q87_pagerank", "q76_fuzzy_decontam",
    // the three mapping queries (fixture-corpus, dir-independent control)
    "q41_claims_mapping", "q42_claim_services", "q43_claim_diagnoses")

  /** Job local property naming the `<pass>:<query>` execution a job
    * belongs to. */
  private val Prop = "graft.bench.query"

  /** Spark work of one query execution. */
  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskMs + o.taskMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes)
  }

  /** One measured run. Each pass lists `query -> seconds` in subset order;
    * `warm` is the per-query best of the two warm passes, and `work` the
    * Spark work of every timed execution, per pass. A failed execution is
    * named in `failed` as `<pass>:<query>` and DROPPED from its pass's
    * times and work — Bench's rule ("a time-to-failure must never read as
    * a steady-state number in the artifact"): a fast-failing query at one
    * tier would otherwise ledger as a bogus sublinear ratio (r10 ADVICE).
    */
  final case class Result(
      cold: Seq[(String, Double)], warm1: Seq[(String, Double)],
      warm2: Seq[(String, Double)], warm: Seq[(String, Double)],
      work: Seq[(String, Seq[(String, Work)])], failed: Seq[String])

  /** Attributes each job, stage and task to the execution whose key rides
    * [[Prop]] (streaming query threads inherit the property of the thread
    * that started them; broadcast and subquery threads capture it); an
    * event without it goes to the execution running at the time. */
  private final class WorkListener extends SparkListener {
    @volatile var current: String = _
    private val work = new ConcurrentHashMap[String, Work]()
    private val stageKey = new ConcurrentHashMap[Int, String]()
    private def keyOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty(Prop))).getOrElse(current)
    private def add(key: String, w: Work): Unit =
      if (key != null) { work.merge(key, w, _ + _); () }
    def of(key: String): Work = work.getOrDefault(key, Work())

    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(keyOf(e.properties), Work(jobs = 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val key = keyOf(e.properties)
      if (key != null) stageKey.put(e.stageInfo.stageId, key)
      add(key, Work(stages = 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add(stageKey.getOrDefault(e.stageId, current),
        if (m == null) Work(tasks = 1)
        else Work(tasks = 1, taskMs = m.executorRunTime,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten))
    }
  }

  /** Prebuild, then the cold and two warm passes over `subset` in `spark`,
    * which the caller has prepared ([[Bench.prepare]]) and keeps: the run
    * neither stops the session nor leaves its listener attached. */
  def run(spark: SparkSession, sfDir: String, subset: Seq[QueryDef]): Result = {
    val sc = spark.sparkContext
    Bench.prebuild(spark, sfDir, subset, "slope:prebuild")
    val failed = collection.mutable.LinkedHashSet[String]()
    val listener = new WorkListener
    def pass(tag: String): Seq[(String, Double)] = subset.flatMap { q =>
      val key = s"$tag:${q.name}"
      listener.current = key
      sc.setLocalProperty(Prop, key)
      val dt =
        try Bench.timedNoop(spark, sfDir, q, s"slope:$tag")
        finally { sc.setLocalProperty(Prop, null); listener.current = null }
      if (dt.isEmpty) failed += key
      dt.map(q.name -> _)
    }
    sc.addSparkListener(listener)
    val passes =
      try Seq("cold", "warm", "warm2").map(tag => tag -> pass(tag))
      finally { ListenerBusHook.drain(sc); sc.removeSparkListener(listener) }
    val Seq(cold, w1, w2) = passes.map(_._2)
    // best-of-2 over the passes that SUCCEEDED; a query that failed both
    // warm passes has no entry at all (slope_ledger.py surfaces it in
    // `dropped` instead of silently intersecting it away)
    val warm = subset.flatMap { q =>
      val vs = Seq(w1.toMap.get(q.name), w2.toMap.get(q.name)).flatten
      if (vs.isEmpty) None else Some(q.name -> vs.min)
    }
    val work = passes.map { case (tag, times) =>
      tag -> times.map { case (n, _) => n -> listener.of(s"$tag:$n") }
    }
    Result(cold, w1, w2, warm, work, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(DefaultSubset)
    val subset = SparkEntry.registry.filter(q => names.contains(q.name))
    val missing = names.filterNot(subset.map(_.name).contains)
    require(missing.isEmpty, s"unknown query names: ${missing.mkString(", ")}")

    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    Bench.prepare(spark, sfDir)
    val r = run(spark, sfDir, subset)
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }

    def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def obj[V](rs: Seq[(String, V)])(f: V => String) =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    def secs(rs: Seq[(String, Double)]) = obj(rs)(ms)
    def work(w: Work) =
      s"""{"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""task_ms":${w.taskMs},"shuffle_read_bytes":${w.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${w.shuffleWriteBytes}}"""
    val failedArr = r.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val out =
      s"""{"metric":"scale_slope","sf":"$sfDir","queries":${secs(r.warm)},""" +
        s""""cold_queries":${secs(r.cold)},"warm1":${secs(r.warm1.sortBy(_._1))},""" +
        s""""warm2":${secs(r.warm2.sortBy(_._1))},""" +
        s""""work":${obj(r.work)(obj(_)(work))},""" +
        s""""n_failed":${r.failed.size},"failed":$failedArr}"""
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      val path = java.nio.file.Paths.get(p)
      Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(path, out + "\n")
    }
    println(out)
    System.out.flush()
  }
}
