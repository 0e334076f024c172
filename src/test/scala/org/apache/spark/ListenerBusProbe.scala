package org.apache.spark

/** Test access to the context's listener bus, which is `private[spark]`. */
object ListenerBusProbe {
  def size(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
