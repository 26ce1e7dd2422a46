package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must rewrite naive user spatial SQL — inner
  * joins, EXISTS and NOT EXISTS alike — into a grid equi-join with
  * identical results.
  */
class GridJoinRuleSpec extends AnyFunSuite {

  // the rule is registered the way every engine session gets it
  lazy val spark: SparkSession = {
    val s = graft.core.Engine.prepare(SparkSession.builder()
      .master("local[4]")
      .appName("gridjoin-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    graft.queries.GeoViews.register(s, "/root/testdata/sf0.001")
    s
  }

  private val naiveSql =
    """SELECT a.id AS id_a, b.id AS id_b
      |FROM geo_places a JOIN geo_buildings b
      |  ON ABS(a.centroid_lon - b.centroid_lon) < CAST(0.2 AS DOUBLE)
      | AND ABS(a.centroid_lat - b.centroid_lat) < CAST(0.2 AS DOUBLE)
      | AND st_intersects(a.geometry, b.geometry)
      |ORDER BY id_a, id_b""".stripMargin

  // The ground truths below spell the pre-filter as two-sided bounds,
  // which the rule does not match: they plan as nested loops and stay
  // independent of the rewrite under test.
  private def window(a: String, b: String): String =
    Seq("lon", "lat").map { ax =>
      val d = s"($a.centroid_$ax - $b.centroid_$ax)"
      s"$d > CAST(-0.2 AS DOUBLE) AND $d < CAST(0.2 AS DOUBLE)"
    }.mkString(" AND ")

  /** Point-to-box distance by bbox arithmetic (the j2/j3 oracle's). */
  private val boxDist =
    """sqrt(GREATEST(b.bbox.xmin - a.centroid_lon, a.centroid_lon - b.bbox.xmax, CAST(0 AS DOUBLE))
      |     * GREATEST(b.bbox.xmin - a.centroid_lon, a.centroid_lon - b.bbox.xmax, CAST(0 AS DOUBLE))
      |     + GREATEST(b.bbox.ymin - a.centroid_lat, a.centroid_lat - b.bbox.ymax, CAST(0 AS DOUBLE))
      |     * GREATEST(b.bbox.ymin - a.centroid_lat, a.centroid_lat - b.bbox.ymax, CAST(0 AS DOUBLE)))""".stripMargin

  /** j2/j3-shaped distance (anti-)semi-join: `prefix` EXISTS (...). */
  private def subquerySql(prefix: String, window: String, distance: String): String =
    s"""SELECT a.id FROM geo_places a
       |WHERE $prefix (
       |  SELECT 1 FROM geo_buildings b
       |  WHERE a.id != b.id
       |    AND $window
       |    AND $distance < CAST(0.25 AS DOUBLE))
       |ORDER BY a.id""".stripMargin

  private val prefilter =
    """ABS(a.centroid_lon - b.centroid_lon) < CAST(0.2 AS DOUBLE)
      |    AND ABS(a.centroid_lat - b.centroid_lat) < CAST(0.2 AS DOUBLE)""".stripMargin

  private val notExists =
    "centroid_lon BETWEEN CAST(-1.0 AS DOUBLE) AND CAST(1.0 AS DOUBLE)\n  AND NOT EXISTS"
  private val existsSql =
    subquerySql("EXISTS", prefilter, "st_distance(a.geometry, b.geometry)")
  private val notExistsSql =
    subquerySql(notExists, prefilter, "st_distance(a.geometry, b.geometry)")

  private def ids(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq

  /** The rule fired, the plan passes the scale gate, and the rows are
    * the ground truth's.
    */
  private def assertGridded(df: DataFrame, want: String): Unit = {
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_graft_gx") && optimized.contains("_graft_gy"),
      s"rule did not fire:\n${optimized.take(1500)}")
    assert(PlanGate.violations(df).isEmpty, PlanGate.violations(df).mkString("\n"))
    val got = ids(df)
    assert(got == ids(spark.sql(want)))
    assert(got.nonEmpty)
  }

  test("naive spatial join is rewritten to a grid equi-join") {
    val df = spark.sql(naiveSql)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_graft_gx") && optimized.contains("_graft_gy"),
      s"rule did not fire:\n${optimized.take(1500)}")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"))
  }

  test("rewritten join returns exactly the naive results") {
    val got = spark.sql(naiveSql).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // recompute without the spatial predicate path: point-in-box arithmetic
    val want = spark.sql(
      s"""SELECT a.id AS id_a, b.id AS id_b
         |FROM geo_places a JOIN geo_buildings b
         |  ON ${window("a", "b")}
         | AND a.centroid_lon BETWEEN b.bbox.xmin AND b.bbox.xmax
         | AND a.centroid_lat BETWEEN b.bbox.ymin AND b.bbox.ymax
         |ORDER BY id_a, id_b""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("distance predicate form also triggers the rewrite") {
    val df = spark.sql(
      """SELECT COUNT(*) FROM geo_places a JOIN geo_places b
        |  ON a.id < b.id
        | AND ABS(a.centroid_lon - b.centroid_lon) < CAST(0.2 AS DOUBLE)
        | AND ABS(a.centroid_lat - b.centroid_lat) < CAST(0.2 AS DOUBLE)
        | AND st_distance(a.geometry, b.geometry) < CAST(0.1 AS DOUBLE)""".stripMargin)
    assert(df.queryExecution.optimizedPlan.toString.contains("_graft_gx"))
    assert(df.head().getLong(0) > 0)
  }

  test("EXISTS distance semi-join plans as a grid hash join") {
    assertGridded(spark.sql(existsSql),
      subquerySql("EXISTS", window("a", "b"), boxDist))
  }

  test("NOT EXISTS distance anti-join plans as a grid hash join") {
    assertGridded(spark.sql(notExistsSql),
      subquerySql(notExists, window("a", "b"), boxDist))
  }

  test("NOT EXISTS pasted as DuckDB SQL plans as a grid hash join") {
    val g = new graft.Graft(spark,
      graft.TempDir("gridjoin_state").toString)
    assertGridded(g.duckSql(notExistsSql),
      subquerySql(notExists, window("a", "b"), boxDist))
  }

  test("joins without the pre-filter pattern are left untouched") {
    val df = spark.sql(
      "SELECT COUNT(*) FROM geo_places a JOIN geo_buildings b ON a.id != b.id")
    assert(!df.queryExecution.optimizedPlan.toString.contains("_graft_gx"))
  }
}
