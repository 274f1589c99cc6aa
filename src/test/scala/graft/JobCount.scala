package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. Listener events arrive
  * asynchronously but in order, so a cheap sentinel job run before and
  * after the block brackets exactly the block's jobs: once the closing
  * sentinel's start event is seen, every earlier event has been too. */
object JobCount {

  def apply(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def sentinel(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobcount-open")
      body
      sentinel("jobcount-close")
      val seen = Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map(d => { require(d != null, "listener bus stalled"); d })
        .takeWhile(_ != "jobcount-close").toSeq
      seen.dropWhile(_ != "jobcount-open").size - 1
    } finally sc.removeSparkListener(listener)
  }
}
