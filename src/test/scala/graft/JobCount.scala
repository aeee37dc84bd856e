package graft

import org.apache.spark.sql.SparkSession

/** Spark job counting for specs that pin how many jobs a call launches. */
object JobCount {
  /** Runs `body` under job group `group` and returns its result with the
    * number of Spark jobs that group launched. Attribution is by
    * job-group id: the submitting thread's locals are captured across
    * Spark's async AQE/broadcast submission
    * (SQLExecution.withThreadLocalCaptured), so any job `body` launches —
    * directly or via AQE — carries the group. */
  def apply[T](spark: SparkSession, group: String)(body: => T): (T, Int) = {
    val marker = s"$group-marker"
    val queryJobs = new java.util.concurrent.atomic.AtomicInteger
    val markerJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g == group) queryJobs.incrementAndGet()
        else if (g == marker) markerJobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "query under test")
      val out = body
      spark.sparkContext.setJobGroup(marker, "bus drain")
      // the listener bus is async but FIFO: once the marker's JobStart is
      // delivered, any earlier query job would already be counted
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (markerJobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerJobs.get() > 0, "marker job not observed — listener broken")
      (out, queryJobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
