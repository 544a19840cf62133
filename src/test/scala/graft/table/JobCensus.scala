package graft.table

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts — the observable
  * behind "this read lists no files" and "this write runs one job". */
trait JobCensus { self: SparkSpec =>

  /** Descriptions of the Spark jobs started while `body` runs ("" for a job
    * without one). The listener bus is asynchronous, so a sentinel job in
    * its own group closes the window: its start event arrives after every
    * event `body` caused. */
  def jobsStarted[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == s"$tag-sentinel" => sentinelSeen.countDown()
          case Some(g) if g == tag => started.add(
            props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
          case _ =>
        }
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, "probe")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).rdd.count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, started.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** The number of Spark jobs started while `body` runs. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val (out, jobs) = jobsStarted(body)
    (out, jobs.size)
  }
}
