package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain call is private[spark]; this test shim lives
  * in a subpackage of org.apache.spark only to reach it. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
