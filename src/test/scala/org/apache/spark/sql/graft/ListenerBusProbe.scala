package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Test-only view of the private[spark] listener bus: the class names of
  * the attached listeners, so a spec can prove a runner removed the one it
  * added. */
object ListenerBusProbe {
  def listenerClasses(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.toSeq.map(_.getClass.getName)
}
