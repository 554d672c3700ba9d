package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

object SessionConf {

  /** Runs `body` with each `key -> value` set on the session, then puts
    * every key back as it was — its prior value, or unset when the caller
    * had not set it — also when `body` throws. Gates that scope a conf to
    * their own stream or probe rounds use this, so the shared sweep
    * session never sees their settings, nor loses the caller's.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with `desc` as the description of every Spark job the
    * calling thread starts, then puts the caller's description back (or
    * none, when it had none), also when `body` throws. The one place the
    * program sets a job description.
    */
  def withJobDescription[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setLocalProperty("spark.job.description", prior)
  }
}
