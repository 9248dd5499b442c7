package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** The two listener-bus operations Spark keeps package-private: the
  * registered listeners (for a register-once guard) and draining the
  * queue (so counts are read after every event of a finished job has been
  * delivered, instead of sleeping and hoping). */
object PerfbenchBus {
  def listeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
