package org.apache.spark

/** Listener-bus drain for the benchmark's traced runs: the bus delivers
  * job, stage and task events asynchronously, so a span's counters are
  * complete only after every event posted while it was open is handled.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
