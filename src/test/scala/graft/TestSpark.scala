package graft

import org.apache.spark.sql.SparkSession

/** The tests' shared session: the shipped configuration on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  /** Spark jobs `body` starts, tagged through a thread-local property
    * so jobs of anything else running in the JVM are not counted.
    */
  def jobsOf(body: => Unit): Int = {
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(key) == tag) {
          jobs.incrementAndGet(); ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      body
      // listener events arrive asynchronously: wait until the count settles
      var (prev, quiet) = (-1, 0)
      while (quiet < 3) {
        Thread.sleep(200)
        if (jobs.get() == prev) quiet += 1 else { prev = jobs.get(); quiet = 0 }
      }
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}
