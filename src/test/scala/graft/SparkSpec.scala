package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: small local parallelism, UTC, AQE on and the
  * fork-free `file:` scheme — the same shape Verify/Bench use so specs
  * exercise the production configuration.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(graft.io.LocalFileScheme.SparkConf)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def tables: Tables = Tables(spark, sfDir)

  /** Descriptions of the Spark jobs `body` starts ("null" where a job
    * has none), read once the listener bus has delivered every event. */
  def jobsDuring(body: => Unit): Seq[String] =
    jobPropertiesDuring(body).map(p => String.valueOf(p.getProperty("spark.job.description")))

  /** The properties of each Spark job `body` starts (its description and
    * the SQL confs its query propagated), read once the listener bus has
    * delivered every event. */
  def jobPropertiesDuring(body: => Unit): Seq[java.util.Properties] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        props.add(Option(j.properties).getOrElse(new java.util.Properties))
    }
    org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.ListenerBusHook.drain(sc) }
    finally sc.removeSparkListener(listener)
    props.toArray(Array.empty[java.util.Properties]).toSeq
  }

  /** The columns of each frame `body` counts with `Dataset.count()`. */
  def countsDuring(body: => Unit): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.QueryExecution
    val counted = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") counted.add(qe.analyzed.children.head.output.map(_.name))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.sql.graft.ListenerBusHook.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    counted.toArray(Array.empty[Seq[String]]).toSeq
  }

  /** Runs `body` with the operators' driver budget
    * (`DriverKernel.BudgetBytes`) set to `bytes`, then restores it, also
    * when `body` throws: the one way a spec reaches a driver kernel's
    * distributed fallback. */
  def withDriverBudget[T](bytes: Long)(body: => T): T = {
    val prior = graft.operators.DriverKernel.BudgetBytes
    graft.operators.DriverKernel.BudgetBytes = bytes
    try body
    finally graft.operators.DriverKernel.BudgetBytes = prior
  }

  /** Bytes `DriverKernel.collectRows` counts for `df`: the sum of its
    * rows' `UnsafeRow` sizes. */
  def rowBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      it.map(r => toUnsafe(r).getSizeInBytes.toLong)
    }.fold(0L)(_ + _)
  }

  /** Copy the tree under `from` into `to`, hidden files included. */
  def copyDir(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }
}
