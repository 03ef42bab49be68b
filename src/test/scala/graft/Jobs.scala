package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs a block of driver code starts, seen by a listener. */
object Jobs {

  /** Descriptions of the jobs `body` starts, in start order: `body` runs
    * under a fresh job group (threads it starts inherit it), and the jobs
    * are collected up to a marker job, so listener delivery is complete.
    */
  def startedBy(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = "jobs_" + System.nanoTime()
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.put(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val jobs = Seq.newBuilder[String]
      var d = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (d != null && d != "marker") { jobs += d; d = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS) }
      assert(d == "marker", "marker job never reached the listener")
      jobs.result()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
