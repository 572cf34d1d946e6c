package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far (`listenerBus` is `private[spark]`), so a counting listener read
  * after a call includes the jobs that call started.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
