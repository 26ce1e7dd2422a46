package graft.compile

import org.scalatest.funsuite.AnyFunSuite
import AnalysisQueries._

/** Port of analysisQueries.test.js (81 LoC) to our Spark dialect. */
class AnalysisQueriesSpec extends AnyFunSuite {

  private val places = TableRef("places_place", "places/place")
  private val divisions = TableRef("divisions_division", "divisions/division")

  test("show query NULL-pads _f columns to max across tables") {
    // places/place has 6 fields, divisions/division has 6 — use a
    // short-field table to see padding
    val sql = buildShowQuery(Seq(places, TableRef("transportation_connector", "transportation/connector")), 1000)
    assert(sql.contains("NULL AS _f5")) // connector has 0 fields → padded
    assert(sql.contains("UNION ALL"))
    assert(sql.endsWith("LIMIT 1000"))
  }

  test("show query tags _source per table") {
    val sql = buildShowQuery(Seq(places), 500)
    assert(sql.contains("'places/place' AS _source"))
    assert(sql.contains("st_asgeojson(geometry) AS geojson"))
  }

  test("empty table list compiles to empty string") {
    assert(buildShowQuery(Seq.empty, 100) == "")
  }

  test("intersect analysis query shape (grid-join form)") {
    val sql = buildQuery("intersect", "places_place", "buildings_building", 100)
    // the plain pre-filter join; plans.GridJoinRule adds the grid-cell
    // keys at optimization (PlanSpec checks them on the analysis rows)
    assert(sql.contains("JOIN `buildings_building` b"))
    assert(sql.contains("st_intersects(a.geometry, b.geometry)"))
    assert(sql.contains("ABS(a.centroid_lon - b.centroid_lon) < 0.2"))
    assert(sql.endsWith("LIMIT 2000"))
  }

  test("within analysis query uses EXISTS + distance conversion") {
    val sql = buildQuery("within", "places_place", "buildings_building", 100)
    assert(sql.contains("WHERE EXISTS"))
    // 100 / 111320 ≈ 0.000898
    assert(sql.contains("st_distance(a.geometry, b.geometry) < 0.000898"))
  }

  test("exclude analysis query uses NOT EXISTS") {
    val sql = buildQuery("exclude", "places_place", "buildings_building", 100)
    assert(sql.contains("WHERE NOT EXISTS"))
  }

  test("unknown mode compiles to empty string") {
    assert(buildQuery("nope", "a", "b", 100) == "")
  }

  test("matched-B query is DISTINCT b.* for intersect/within, None for exclude") {
    val i = buildMatchedBQuery("intersect", "places_place", "buildings_building", 100)
    assert(i.exists(_.contains("SELECT DISTINCT b.*")))
    val w = buildMatchedBQuery("within", "places_place", "buildings_building", 100)
    assert(w.exists(_.contains("st_distance")))
    assert(buildMatchedBQuery("exclude", "places_place", "buildings_building", 100).isEmpty)
    // unordered cap by default; opt-in deterministic order sits before
    // the LIMIT so Spark plans it as one TakeOrderedAndProject
    assert(i.exists(!_.contains("ORDER BY")))
    val o = buildMatchedBQuery("intersect", "places_place", "buildings_building", 100, 2000, Some("id"))
    assert(o.exists(_.contains("ORDER BY t.`id`\nLIMIT 2000")))
  }

  test("intersection geometry query is capped and wraps st_intersection") {
    val sql = buildIntersectionGeomQuery("a_t", "b_t")
    assert(sql.contains("st_asgeojson(st_intersection(a.geometry, b.geometry))"))
    assert(sql.endsWith("LIMIT 500"))
  }
}
