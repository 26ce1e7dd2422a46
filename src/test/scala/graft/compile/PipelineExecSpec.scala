package graft.compile

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.PipelineCompiler._
import graft.ingest.{Ingest, OvertureFixtures}
import graft.fts.FtsIndex

/** Execution tests: compiled SQL actually runs against canonical
  * fixture tables and honors the reference's result semantics.
  */
class PipelineExecSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    OvertureFixtures.write(s, dir, n = 120, files = 2)
    Ingest.loadTheme(s, dir, "places/place")
    Ingest.loadTheme(s, dir, "buildings/building")
    s
  }

  private lazy val dir = graft.TempDir("graft_pipe").toString

  private def node(
      id: String = "p1", nodeType: String = "source", op: String = "",
      table: String = "places_place", key: String = "places/place",
      distance: Option[Double] = None) =
    PipelineNode(id, nodeType, op, table, key, distance)

  private val bldgUnion = node(id = "p2", nodeType = "combine", op = "union",
    table = "buildings_building", key = "buildings/building")

  test("union pipeline: balanced per-source limit + _source tags") {
    val df = PipelineCompiler.run(spark, Seq(node(), bldgUnion), Options(limit = 40))
    val bySource = df.groupBy("_source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("places/place") == 20)
    assert(bySource("buildings/building") == 20)
    // canonical output shape incl. geojson + padded _f5
    assert(df.columns.contains("geojson"))
    assert(df.columns.contains("_f5"))
  }

  test("intersect pipeline: only matched ids from both sides survive") {
    val df = PipelineCompiler.run(spark, Seq(node(),
      node(id = "p2", nodeType = "combine", op = "intersect",
        table = "buildings_building", key = "buildings/building")))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every returned place centroid must lie in some building bbox
    val buildings = spark.table("buildings_building")
      .select("centroid_lon", "centroid_lat").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    rows.filter(_.getAs[String]("_source") == "places/place").foreach { r =>
      val lon = r.getAs[Double]("centroid_lon"); val lat = r.getAs[Double]("centroid_lat")
      assert(buildings.exists { case (bx, by) =>
        math.abs(lon - bx) <= 0.125 && math.abs(lat - by) <= 0.125
      }, s"place ${r.getAs[String]("id")} at ($lon,$lat) not in any building")
    }
  }

  test("exclude pipeline: excluded rows are exactly the near ones") {
    val all = PipelineCompiler.run(spark, Seq(node())).count()
    val kept = PipelineCompiler.run(spark, Seq(node(),
      node(id = "p2", nodeType = "combine", op = "exclude",
        table = "buildings_building", key = "buildings/building",
        distance = Some(27830.0)))).count() // 0.25 deg
    assert(kept < all)
  }

  test("ILIKE search filters and orders deterministically") {
    val df = PipelineCompiler.run(spark, Seq(node()), Options(search = "cafe"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("search_name").toLowerCase.contains("cafe")))
  }

  test("FTS search path scores and ranks") {
    FtsIndex.build(spark, "places_place")
    val df = PipelineCompiler.run(spark, Seq(node()),
      Options(search = "cafe", ftsTables = Set("places_place")))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("_score"))
    assert(scores.forall(_ > 0))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    FtsIndex.drop(spark, "places_place")
  }

  test("compiled text is editable source (sqlOverride contract)") {
    val sql = compile(Seq(node()), Options(limit = 3000))
    val edited = sql.replace("LIMIT 3000", "LIMIT 7")
    assert(spark.sql(edited).count() == 7)
  }

  test("intersect and exclude over capped (driver-held) loads still plan grid joins") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val filters = Seq(
      node(id = "p2", nodeType = "combine", op = "intersect",
        table = "buildings_building", key = "buildings/building"),
      node(id = "p2", nodeType = "combine", op = "exclude",
        table = "buildings_building", key = "buildings/building",
        distance = Some(27830.0)))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "_source").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // over the persisted loads Spark runs the grid joins GridJoinRule plans
    val persisted = filters.map { f =>
      val df = PipelineCompiler.run(spark, Seq(node(), f))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("_graft_gx") && optimized.contains("_graft_gy"),
        s"${f.op}: GridJoinRule did not fire:\n$optimized")
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.collectWithSubqueries { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"${f.op}: nested-loop join planned:\n$plan")
      ids(df)
    }
    val keys = Seq("places/place", "buildings/building")
    try {
      keys.foreach(k => Ingest.loadTheme(spark, dir, k, limit = Some(Ingest.AreaLimit)))
      assert(spark.table("places_place").queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      // over the capped loads the whole edit, grid joins included,
      // folds on the driver into one local relation of the same rows
      filters.zip(persisted).foreach { case (f, expected) =>
        val df = PipelineCompiler.run(spark, Seq(node(), f))
        assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"${f.op}: not folded on the driver:\n${df.queryExecution.optimizedPlan}")
        assert(ids(df) == expected, s"${f.op}: capped and persisted loads disagree")
      }
    } finally keys.foreach(k => Ingest.loadTheme(spark, dir, k))
  }

  test("the driver fold of a spatial join over capped loads rides on the grid keys") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    // a child session: its own capped loads, the shared views untouched
    val s = spark.newSession()
    val big = graft.TempDir("graft_pipe_big").toString
    OvertureFixtures.write(s, big, n = 600, files = 2)
    val loads = Seq("places/place", "buildings/building")
      .map(k => Ingest.loadTheme(s, big, k, limit = Some(Ingest.AreaLimit)))
    // more pairs than a keyless join may test on the driver
    assert(loads.map(_.rowCount).product > graft.plans.LocalEvalRule.MaxRows)
    def pairs(pre: (String, String) => String) = s.sql(
      s"""SELECT p.id AS pid, b.id AS bid FROM places_place p JOIN buildings_building b
         |  ON ${pre("p.centroid_lon", "b.centroid_lon")}
         |  AND ${pre("p.centroid_lat", "b.centroid_lat")}""".stripMargin)
    val grid = pairs((x, y) => s"ABS($x - $y) < 0.2")
    val range = pairs((x, y) => s"$x - $y > -0.2 AND $x - $y < 0.2")
    assert(grid.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      grid.queryExecution.optimizedPlan.toString)
    assert(range.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.nonEmpty,
      range.queryExecution.optimizedPlan.toString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val got = rows(grid)
    assert(got.nonEmpty && got == rows(range))
  }
}
