package graft.runtime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.PipelineCompiler
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.fts.{Bm25, FtsIndex}
import graft.ingest.{Ingest, OvertureFixtures}

/** Pipeline edits and searches over capped area loads run on the
  * driver: the loads are `LocalRelation`s, and Catalyst (through
  * `plans.LocalEvalRule` for the unions, joins, aggregates and sorts)
  * folds a single-source, union, intersect, exclude or search edit,
  * and a multi-table search, into one local scan that `collect()`
  * returns without scheduling a Spark job. The load itself runs one
  * job (its collect), and the FTS index over it is built on the
  * driver.
  */
class LocalEditSpec extends AnyFunSuite {

  private lazy val dir = graft.TempDir("graft_local_edit").toString

  lazy val spark: SparkSession = {
    val s = graft.core.Engine.prepare(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    OvertureFixtures.write(s, dir, n = 120, files = 2)
    Seq("places/place", "buildings/building").foreach(loadCapped(s, _))
    s
  }

  private def loadCapped(s: SparkSession, key: String): Ingest.LoadResult =
    Ingest.loadTheme(s, dir, key, limit = Some(Ingest.AreaLimit))

  private def jobsDuring(body: => Unit): Int = graft.Jobs.during(spark)(body)

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

  Seq(
    PipelineNode("n2", "combine", "intersect", "buildings_building", "buildings/building"),
    PipelineNode("n2", "combine", "exclude", "buildings_building", "buildings/building",
      Some(27830.0))
  ).foreach { filter =>
    test(s"an ${filter.op} edit over two capped loads collects with no Spark job") {
      var n = 0
      assert(jobsDuring {
        n = PipelineCompiler.run(spark, Seq(places, filter), Options(limit = 1000)).collect().length
      } == 0)
      // each fixture place lies inside the building of the same index,
      // so an intersect keeps rows and an exclude keeps none
      assert(if (filter.op == "intersect") n > 0 else n == 0)
    }
  }

  private val tables = Seq("places_place", "buildings_building")

  /** `body` with both capped loads FTS-indexed. */
  private def indexed[T](body: => T): T = {
    tables.foreach(FtsIndex.build(spark, _))
    try body finally tables.foreach(FtsIndex.drop(spark, _))
  }

  test("a search edit over two capped loads collects with no Spark job") {
    indexed {
      var rows = Array.empty[Row]
      assert(jobsDuring {
        rows = PipelineCompiler.run(spark, Seq(places, buildings),
          Options(search = "place 7 shop", limit = 1000, ftsTables = tables.toSet)).collect()
      } == 0)
      assert(rows.nonEmpty)
    }
  }

  test("Bm25.searchAll over two capped loads runs no Spark job") {
    indexed {
      var rows = Seq.empty[Row]
      assert(jobsDuring { rows = Bm25.searchAll(spark, tables, "place 7 shop") } == 0)
      assert(rows.nonEmpty && rows.forall(_.getAs[Double]("_score") > 0))
    }
  }

  test("the FTS index over a capped load is built with no Spark job") {
    assert(jobsDuring(FtsIndex.build(spark, "places_place")) == 0)
    assert(DatasetBridge.localRelation(spark.table(FtsIndex.indexName("places_place"))).isDefined)
    FtsIndex.drop(spark, "places_place")
  }

  test("a capped load of a one-file fixture runs one Spark job, its collect") {
    val one = graft.TempDir("graft_local_one").toString
    OvertureFixtures.write(spark, one, n = 40, files = 1)
    var res: Ingest.LoadResult = null
    assert(jobsDuring {
      res = Ingest.loadTheme(spark, one, "places/place", limit = Some(Ingest.AreaLimit))
    } == 1)
    assert(res.rowCount == 40 && res.fileCount == 1)
    loadCapped(spark, "places/place")
  }

  test("a search edit over the driver-built index returns the rows it returns over a persisted load") {
    def searchEdit(): Seq[Row] = {
      FtsIndex.build(spark, "places_place")
      PipelineCompiler.run(spark, Seq(places),
          Options(search = "place 7 shop", limit = 1000, ftsTables = Set("places_place")))
        .collect().toSeq.sortBy(_.getAs[String]("id"))
    }
    val overLocal = searchEdit()
    Ingest.loadTheme(spark, dir, "places/place")
    assert(DatasetBridge.localRelation(spark.table("places_place")).isEmpty)
    val overPersisted = try searchEdit() finally {
      FtsIndex.drop(spark, "places_place")
      Ingest.dropTheme(spark, "places/place")
      loadCapped(spark, "places/place")
    }
    assert(overLocal.nonEmpty)
    assert(overLocal.map(_.getAs[String]("id")) == overPersisted.map(_.getAs[String]("id")))
    // the same index rows; a score's sum may add its terms in another order
    overLocal.zip(overPersisted).foreach { case (a, b) =>
      val i = a.fieldIndex("_score")
      assert(a.toSeq.patch(i, Nil, 1) == b.toSeq.patch(i, Nil, 1))
      assert(math.abs(a.getDouble(i) - b.getDouble(i)) <= 1e-12 * math.abs(b.getDouble(i)))
    }
  }
}
