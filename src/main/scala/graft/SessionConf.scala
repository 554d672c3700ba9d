package graft

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
}
