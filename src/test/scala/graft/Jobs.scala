package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, for the specs that pin
  * which paths run on the driver alone.
  */
object Jobs {

  private val MarkerKey = "graft.test.marker"

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marker job runs after `body`;
    * once the listener has seen the marker, it has seen every job
    * `body` started.
    */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).exists(_.getProperty(MarkerKey) != null))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setLocalProperty(MarkerKey, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(MarkerKey, null)
      var jobs = 0
      var marker = false
      while (!marker) Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)) match {
        case Some(m) => if (m) marker = true else jobs += 1
        case None => throw new IllegalStateException("the marker job never reached the listener")
      }
      jobs
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
