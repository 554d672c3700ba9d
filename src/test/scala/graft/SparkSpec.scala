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
  def jobsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = descs.add(
        String.valueOf(Option(j.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    org.apache.spark.sql.graft.ListenerBusHook.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.ListenerBusHook.drain(sc) }
    finally sc.removeSparkListener(listener)
    descs.toArray(Array.empty[String]).toSeq
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
