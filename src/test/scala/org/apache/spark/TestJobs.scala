package org.apache.spark

/** Counts the Spark jobs a block runs. The block runs under a job group
  * of its own, which Spark hands on to the threads that run its
  * broadcasts and adaptive query stages; the listener bus (drained through
  * its package-private `waitUntilEmpty`) has delivered every job-start
  * event before the count is read. */
object TestJobs {
  def count[A](sc: SparkContext)(f: => A): (A, Int) = {
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new scheduler.SparkListener {
      override def onJobStart(js: scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
