package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spatial operator coverage (SURVEY §2.2 P1-P7, §2.3 J1-J8, §2.8) —
  * every query runs the real WKB geometry expressions on the Spark
  * side while the DuckDB oracle recomputes the same result with plain
  * coordinate arithmetic (axis-aligned boxes / lattice points make
  * the two bit-identical; see GeoViews).
  *
  * All joins keep the reference's cheap coordinate pre-filter
  * (|Δlon| < 0.2 AND |Δlat| < 0.2) inside the join condition — it is a
  * *semantic* part of the compiled query (pipeline.js:129-132), not an
  * optimization, so both sides carry it. On the Spark side the
  * pre-filter also makes plans.GridJoinRule plan each join as a hash
  * join on 0.2-degree grid cells.
  */
object GeoQueries {

  import GeoViews._

  private val pre02 = "CAST(0.2 AS DOUBLE)"
  private val d025 = "CAST(0.25 AS DOUBLE)" // 27830 m / 111320

  private def g(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => { GeoViews.register(s, dir); s.sql(sql) }

  private def withOracle(ctes: String*) = s"WITH ${ctes.mkString(",\n")}\n"

  /** point-to-segment distance, mirroring GeoOps.pointSegDist's exact
    * operation order so DuckDB produces bit-identical doubles.
    */
  private def segDistExpr(px: String, py: String,
                          ax: String, ay: String, dx: String, dy: String): String = {
    val t = s"LEAST(GREATEST(((($px) - ($ax)) * ($dx) + (($py) - ($ay)) * ($dy)) / (($dx) * ($dx) + ($dy) * ($dy)), CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE))"
    s"sqrt(((($px) - (($ax) + $t * ($dx))) * (($px) - (($ax) + $t * ($dx)))) + ((($py) - (($ay) + $t * ($dy))) * (($py) - (($ay) + $t * ($dy)))))"
  }

  /** DuckDB replica of SpaceCurve.zorderKey: identical quantization
    * op order (subtract, divide, multiply, floor, clamp) then the same
    * bit-interleave sum — integer-exact across engines.
    */
  private def zorderOracleExpr(lon: String, lat: String, bits: Int): String = {
    val n = 1L << bits
    def q(v: String, min: String, span: String) =
      s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($v) - CAST($min AS DOUBLE)) / CAST($span AS DOUBLE) * CAST($n AS DOUBLE)) AS BIGINT)))"
    val ix = q(lon, "-180.0", "360.0")
    val iy = q(lat, "-90.0", "180.0")
    val terms = (0 until bits).map { b =>
      s"((ix >> $b) & 1) * ${1L << (2 * b)} + ((iy >> $b) & 1) * ${1L << (2 * b + 1)}"
    }
    s"(SELECT ${terms.mkString(" + ")} FROM (SELECT $ix AS ix, $iy AS iy))"
  }

  val queries: Seq[Q] = Seq(

    // Z-order write-clustering key (SpaceCurve) — the layout primitive
    // behind spatially-pruned parquet files.
    Q("geo_zorder_key",
      (s, dir) => {
        GeoViews.register(s, dir)
        import org.apache.spark.sql.functions.col
        s.table("geo_places").select(col("id"),
            graft.geo.SpaceCurve.zorderKey(col("centroid_lon"), col("centroid_lat"), 16).as("z"))
          .orderBy(col("id"))
      },
      Some(withOracle(oraclePlaces) +
        s"""SELECT id, ${zorderOracleExpr("centroid_lon", "centroid_lat", 16)} AS z
           |FROM geo_places ORDER BY id""".stripMargin)),

    // P1: bbox-struct overlap filter (pushes to parquet stats on raw
    // Overture tables; here over the bbox struct column).
    Q("p1_bbox_filter",
      g("""SELECT id, centroid_lon, centroid_lat FROM geo_buildings
          |WHERE bbox.xmax >= CAST(-4.0 AS DOUBLE) AND bbox.xmin <= CAST(-3.0 AS DOUBLE)
          |  AND bbox.ymax >= CAST(-2.0 AS DOUBLE) AND bbox.ymin <= CAST(-1.5 AS DOUBLE)
          |ORDER BY id""".stripMargin),
      Some(withOracle(oracleBuildings) +
        """SELECT id, centroid_lon, centroid_lat FROM geo_buildings
          |WHERE xmax >= CAST(-4.0 AS DOUBLE) AND xmin <= CAST(-3.0 AS DOUBLE)
          |  AND ymax >= CAST(-2.0 AS DOUBLE) AND ymin <= CAST(-1.5 AS DOUBLE)
          |ORDER BY id""".stripMargin)),

    // P2: centroid BETWEEN bbox filter (cached-table variant).
    Q("p2_centroid_bbox",
      g("""SELECT id, centroid_lon, centroid_lat FROM geo_places
          |WHERE centroid_lon BETWEEN CAST(-2.0 AS DOUBLE) AND CAST(0.0 AS DOUBLE)
          |  AND centroid_lat BETWEEN CAST(-1.0 AS DOUBLE) AND CAST(0.5 AS DOUBLE)
          |ORDER BY id""".stripMargin),
      Some(withOracle(oraclePlaces) +
        """SELECT id, centroid_lon, centroid_lat FROM geo_places
          |WHERE centroid_lon BETWEEN CAST(-2.0 AS DOUBLE) AND CAST(0.0 AS DOUBLE)
          |  AND centroid_lat BETWEEN CAST(-1.0 AS DOUBLE) AND CAST(0.5 AS DOUBLE)
          |ORDER BY id""".stripMargin)),

    // P3/P4: full canonical projection (schema-adaptive _f columns).
    Q("p3_canonical_projection",
      g("""SELECT id, display_name, search_name, geom_type,
          |       centroid_lon, centroid_lat, _f0
          |FROM geo_places ORDER BY id LIMIT 200""".stripMargin),
      Some(withOracle(oraclePlaces) +
        """SELECT id, display_name, search_name, geom_type,
          |       centroid_lon, centroid_lat, _f0
          |FROM geo_places ORDER BY id LIMIT 200""".stripMargin)),

    // P5: case-insensitive substring search on search_name.
    Q("p5_ilike_search",
      g("""SELECT id, search_name FROM geo_places
          |WHERE search_name ILIKE '%building%' ORDER BY id""".stripMargin),
      Some(withOracle(oraclePlaces) +
        """SELECT id, search_name FROM geo_places
          |WHERE search_name ILIKE '%building%' ORDER BY id""".stripMargin)),

    // P7: deferred GeoJSON projection at output time only.
    Q("p7_geojson_render",
      g("""SELECT id, st_asgeojson(geometry) AS geojson FROM geo_places
          |WHERE centroid_lon BETWEEN CAST(0.0 AS DOUBLE) AND CAST(1.0 AS DOUBLE)
          |ORDER BY id""".stripMargin),
      Some(withOracle(oraclePlaces) +
        """SELECT id, concat('{"type":"Point","coordinates":[',
          |  CASE WHEN centroid_lon = floor(centroid_lon)
          |       THEN CAST(CAST(centroid_lon AS BIGINT) AS VARCHAR)
          |       ELSE CAST(centroid_lon AS VARCHAR) END, ',',
          |  CASE WHEN centroid_lat = floor(centroid_lat)
          |       THEN CAST(CAST(centroid_lat AS BIGINT) AS VARCHAR)
          |       ELSE CAST(centroid_lat AS VARCHAR) END, ']}') AS geojson
          |FROM geo_places
          |WHERE centroid_lon BETWEEN CAST(0.0 AS DOUBLE) AND CAST(1.0 AS DOUBLE)
          |ORDER BY id""".stripMargin)),

    // J1: inner spatial theta-join (points in polygons) with pre-filter.
    Q("j1_intersect_join",
      g(s"""SELECT a.id AS place_id, b.id AS building_id
           |FROM geo_places a JOIN geo_buildings b
           |  ON a.id != b.id
           | AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND st_intersects(a.geometry, b.geometry)
           |ORDER BY place_id, building_id""".stripMargin),
      Some(withOracle(oraclePlaces, oracleBuildings) +
        s"""SELECT a.id AS place_id, b.id AS building_id
           |FROM geo_places a JOIN geo_buildings b
           |  ON a.id != b.id
           | AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND a.centroid_lon BETWEEN b.xmin AND b.xmax
           | AND a.centroid_lat BETWEEN b.ymin AND b.ymax
           |ORDER BY place_id, building_id""".stripMargin)),

    // J2: EXISTS distance semi-join (places near buildings).
    Q("j2_within_semi",
      g(s"""SELECT a.id FROM geo_places a
           |WHERE EXISTS (
           |  SELECT 1 FROM geo_buildings b
           |  WHERE a.id != b.id
           |    AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |    AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |    AND st_distance(a.geometry, b.geometry) < $d025)
           |ORDER BY a.id""".stripMargin),
      Some(withOracle(oraclePlaces, oracleBuildings) +
        s"""SELECT a.id FROM geo_places a
           |WHERE EXISTS (
           |  SELECT 1 FROM geo_buildings b
           |  WHERE a.id != b.id
           |    AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |    AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |    AND sqrt(GREATEST(b.xmin - a.centroid_lon, a.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
           |             * GREATEST(b.xmin - a.centroid_lon, a.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
           |             + GREATEST(b.ymin - a.centroid_lat, a.centroid_lat - b.ymax, CAST(0 AS DOUBLE))
           |             * GREATEST(b.ymin - a.centroid_lat, a.centroid_lat - b.ymax, CAST(0 AS DOUBLE))) < $d025)
           |ORDER BY a.id""".stripMargin)),

    // J3: NOT EXISTS distance anti-join (exclude).
    Q("j3_exclude_anti",
      g(s"""SELECT a.id FROM geo_places a
           |WHERE centroid_lon BETWEEN CAST(-1.0 AS DOUBLE) AND CAST(1.0 AS DOUBLE)
           |  AND NOT EXISTS (
           |  SELECT 1 FROM geo_buildings b
           |  WHERE a.id != b.id
           |    AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |    AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |    AND st_distance(a.geometry, b.geometry) < $d025)
           |ORDER BY a.id""".stripMargin),
      Some(withOracle(oraclePlaces, oracleBuildings) +
        s"""SELECT a.id FROM geo_places a
           |WHERE centroid_lon BETWEEN CAST(-1.0 AS DOUBLE) AND CAST(1.0 AS DOUBLE)
           |  AND NOT EXISTS (
           |  SELECT 1 FROM geo_buildings b
           |  WHERE a.id != b.id
           |    AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |    AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |    AND sqrt(GREATEST(b.xmin - a.centroid_lon, a.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
           |             * GREATEST(b.xmin - a.centroid_lon, a.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
           |             + GREATEST(b.ymin - a.centroid_lat, a.centroid_lat - b.ymax, CAST(0 AS DOUBLE))
           |             * GREATEST(b.ymin - a.centroid_lat, a.centroid_lat - b.ymax, CAST(0 AS DOUBLE))) < $d025)
           |ORDER BY a.id""".stripMargin)),

    // J4: matched-B side with DISTINCT.
    Q("j4_matched_b_distinct",
      g(s"""SELECT DISTINCT b.id, b.display_name, b.centroid_lon, b.centroid_lat
           |FROM geo_places a JOIN geo_buildings b
           |  ON ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND st_intersects(a.geometry, b.geometry)
           |ORDER BY id""".stripMargin),
      Some(withOracle(oraclePlaces, oracleBuildings) +
        s"""SELECT DISTINCT b.id, b.display_name, b.centroid_lon, b.centroid_lat
           |FROM geo_places a JOIN geo_buildings b
           |  ON ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND a.centroid_lon BETWEEN b.xmin AND b.xmax
           | AND a.centroid_lat BETWEEN b.ymin AND b.ymax
           |ORDER BY 1""".stripMargin)),

    // J5: bidirectional ID-collect (both sides of the relationship).
    Q("j5_bidirectional_ids",
      g(s"""WITH matched AS (
           |  SELECT a.id FROM geo_places a
           |  WHERE EXISTS (SELECT 1 FROM geo_buildings b
           |    WHERE ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |      AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |      AND st_intersects(a.geometry, b.geometry))
           |  UNION
           |  SELECT b.id FROM geo_buildings b
           |  WHERE EXISTS (SELECT 1 FROM geo_places a
           |    WHERE ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |      AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |      AND st_intersects(a.geometry, b.geometry)))
           |SELECT id FROM matched ORDER BY id""".stripMargin),
      Some(withOracle(oraclePlaces, oracleBuildings) +
        s"""SELECT id FROM (
           |  SELECT a.id FROM geo_places a
           |  WHERE EXISTS (SELECT 1 FROM geo_buildings b
           |    WHERE ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |      AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |      AND a.centroid_lon BETWEEN b.xmin AND b.xmax
           |      AND a.centroid_lat BETWEEN b.ymin AND b.ymax)
           |  UNION
           |  SELECT b.id FROM geo_buildings b
           |  WHERE EXISTS (SELECT 1 FROM geo_places a
           |    WHERE ABS(a.centroid_lon - b.centroid_lon) < $pre02
           |      AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           |      AND a.centroid_lon BETWEEN b.xmin AND b.xmax
           |      AND a.centroid_lat BETWEEN b.ymin AND b.ymax))
           |ORDER BY id""".stripMargin)),

    // J6: point-in-bbox range join + exact refine (filter-refine). The
    // Spark side adds the reference pre-filter, which plans the join
    // on grid cells; the oracle omits it. Result-identical: every
    // geo_buildings envelope spans ±0.125° around its centroid
    // (GeoViews' box half-size), so a point inside one is within
    // 0.125° < 0.2° of its centroid on both axes.
    Q("j6_bbox_range_join",
      g(s"""SELECT p.id AS place_id, t.id AS building_id
           |FROM geo_places p JOIN geo_buildings t
           |  ON ABS(p.centroid_lon - t.centroid_lon) < $pre02
           | AND ABS(p.centroid_lat - t.centroid_lat) < $pre02
           | AND t.bbox.xmax >= p.centroid_lon AND t.bbox.xmin <= p.centroid_lon
           | AND t.bbox.ymax >= p.centroid_lat AND t.bbox.ymin <= p.centroid_lat
           |WHERE st_intersects(t.geometry, p.geometry)
           |ORDER BY place_id, building_id""".stripMargin),
      Some(withOracle(oraclePlaces, oracleBuildings) +
        """SELECT p.id AS place_id, t.id AS building_id
          |FROM geo_places p JOIN geo_buildings t
          |  ON t.xmax >= p.centroid_lon AND t.xmin <= p.centroid_lon
          | AND t.ymax >= p.centroid_lat AND t.ymin <= p.centroid_lat
          |ORDER BY place_id, building_id""".stripMargin)),

    // J7: self-join with self-match exclusion (places near places).
    Q("j7_self_distance_pairs",
      g(s"""SELECT a.id AS id_a, b.id AS id_b
           |FROM geo_places a JOIN geo_places b
           |  ON a.id < b.id
           | AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND st_distance(a.geometry, b.geometry) < $d025
           |ORDER BY id_a, id_b LIMIT 2000""".stripMargin),
      Some(withOracle(oraclePlaces) +
        s"""SELECT a.id AS id_a, b.id AS id_b
           |FROM geo_places a JOIN geo_places b
           |  ON a.id < b.id
           | AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND sqrt((a.centroid_lon - b.centroid_lon) * (a.centroid_lon - b.centroid_lon)
           |        + (a.centroid_lat - b.centroid_lat) * (a.centroid_lat - b.centroid_lat)) < $d025
           |ORDER BY id_a, id_b LIMIT 2000""".stripMargin)),

    // J8: intersection geometry + area (polygon clipping).
    Q("j8_intersection_area",
      g(s"""SELECT a.id AS id_a, b.id AS id_b,
           |       st_area(st_intersection(a.geometry, b.geometry)) AS overlap_area
           |FROM geo_buildings a JOIN geo_buildings b
           |  ON a.id < b.id
           | AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND st_intersects(a.geometry, b.geometry)
           |ORDER BY id_a, id_b LIMIT 500""".stripMargin),
      Some(withOracle(oracleBuildings) +
        s"""SELECT a.id AS id_a, b.id AS id_b,
           |       GREATEST(LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin), CAST(0 AS DOUBLE))
           |     * GREATEST(LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin), CAST(0 AS DOUBLE)) AS overlap_area
           |FROM geo_buildings a JOIN geo_buildings b
           |  ON a.id < b.id
           | AND ABS(a.centroid_lon - b.centroid_lon) < $pre02
           | AND ABS(a.centroid_lat - b.centroid_lat) < $pre02
           | AND LEAST(a.xmax, b.xmax) >= GREATEST(a.xmin, b.xmin)
           | AND LEAST(a.ymax, b.ymax) >= GREATEST(a.ymin, b.ymin)
           |ORDER BY id_a, id_b LIMIT 500""".stripMargin)),

    // ST_Distance point↔linestring (segment projection math).
    Q("j9_line_point_distance",
      // geo_segments_wide = the guarded-spread twin (GeoViews) — the
      // pair distance evaluation parallelizes instead of running as
      // one task on a single-file fixture; identical rows
      g(s"""WITH pairs AS (
           |  SELECT s.id AS seg_id, p.id AS place_id,
           |         st_distance(s.geometry, p.geometry) AS d
           |  FROM geo_segments_wide s JOIN geo_places p
           |    ON ABS(s.centroid_lon - p.centroid_lon) < $pre02
           |   AND ABS(s.centroid_lat - p.centroid_lat) < $pre02)
           |SELECT seg_id, place_id, d FROM pairs
           |WHERE d < $d025
           |ORDER BY seg_id, place_id LIMIT 2000""".stripMargin),
      Some(withOracle(oracleSegments, oraclePlaces) +
        s"""SELECT s.id AS seg_id, p.id AS place_id,
           |       ${segDistExpr("p.centroid_lon", "p.centroid_lat", "s.x0", "s.y0", segDx, segDy)} AS d
           |FROM geo_segments s JOIN geo_places p
           |  ON ABS(s.centroid_lon - p.centroid_lon) < $pre02
           | AND ABS(s.centroid_lat - p.centroid_lat) < $pre02
           |WHERE ${segDistExpr("p.centroid_lon", "p.centroid_lat", "s.x0", "s.y0", segDx, segDy)} < $d025
           |ORDER BY seg_id, place_id LIMIT 2000""".stripMargin)),

    // ST scalar surface over literals (constant-folded on Spark side).
    Q("st_scalar_surface",
      g("""SELECT st_x(st_point(CAST(1.5 AS DOUBLE), CAST(2.5 AS DOUBLE))) AS x,
          |       st_y(st_point(CAST(1.5 AS DOUBLE), CAST(2.5 AS DOUBLE))) AS y,
          |       st_geometrytype(st_point(CAST(1.5 AS DOUBLE), CAST(2.5 AS DOUBLE))) AS gt,
          |       st_distance(st_point(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)),
          |                   st_point(CAST(3 AS DOUBLE), CAST(4 AS DOUBLE))) AS d,
          |       st_area(st_makeenvelope(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
          |                               CAST(4 AS DOUBLE), CAST(4 AS DOUBLE))) AS a""".stripMargin),
      Some("""SELECT CAST(1.5 AS DOUBLE) AS x, CAST(2.5 AS DOUBLE) AS y,
             |'POINT' AS gt, CAST(5 AS DOUBLE) AS d, CAST(16 AS DOUBLE) AS a""".stripMargin)),
  )
}
