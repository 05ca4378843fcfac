package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: a test that counts
  * jobs must see every queued event before it reads its tally. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
