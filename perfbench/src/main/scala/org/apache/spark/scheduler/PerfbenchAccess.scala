package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Two engine-internal reads the benchmark needs without registering a
  * listener: the number of jobs the scheduler has submitted (so an
  * untraced run can count jobs at zero cost) and a drain of the
  * listener bus (so per-round listener counts are complete before they
  * are read). */
object PerfbenchAccess {
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
