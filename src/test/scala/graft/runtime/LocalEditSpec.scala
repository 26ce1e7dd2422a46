package graft.runtime

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.PipelineCompiler
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.ingest.{Ingest, OvertureFixtures}

/** Pipeline edits over capped area loads run on the driver: the loads
  * are `LocalRelation`s, and Catalyst folds a single-source edit, and
  * (through `LocalUnionRule`) a union edit, into one local scan that
  * `collect()` returns without scheduling a Spark job.
  */
class LocalEditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = graft.core.Engine.prepare(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    val dir = java.nio.file.Files.createTempDirectory("graft_local_edit").toString
    OvertureFixtures.write(s, dir, n = 120, files = 2)
    Seq("places/place", "buildings/building").foreach { k =>
      Ingest.loadTheme(s, dir, k, limit = Some(Ingest.AreaLimit))
    }
    s
  }

  private val MarkerKey = "graft.test.marker"

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marker job runs after `body`;
    * once the listener has seen the marker, it has seen every job
    * `body` started.
    */
  private def jobsDuring(body: => Unit): Int = {
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
        case None => fail("the marker job never reached the listener")
      }
      jobs
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val places = PipelineNode("n1", "source", "", "places_place", "places/place")
  private val buildings = PipelineNode("n2", "combine", "union", "buildings_building",
    "buildings/building")

  test("the marker counts a job that does run") {
    assert(jobsDuring(spark.range(10).repartition(2).count()) >= 1)
  }

  test("a single-source edit collects with no Spark job") {
    val df = PipelineCompiler.run(spark, Seq(places),
      Options(limit = 50, bbox = Some((-2.0, 2.0, -1.0, 1.0))))
    var n = 0
    assert(jobsDuring { n = df.collect().length } == 0)
    assert(n == 50)
  }

  test("a union edit over two capped loads collects with no Spark job") {
    val df = PipelineCompiler.run(spark, Seq(places, buildings), Options(limit = 40))
    var bySource = Map.empty[String, Int]
    assert(jobsDuring {
      bySource = df.collect().groupBy(_.getAs[String]("_source")).map { case (k, v) => k -> v.length }
    } == 0)
    assert(bySource == Map("places/place" -> 20, "buildings/building" -> 20))
  }
}
