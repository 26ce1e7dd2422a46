package graft.compile

import graft.model.ThemeMeta

/** Analysis-panel query builders — show / intersect / within / exclude
  * / matched-B SQL generation, ported from
  * /root/reference/src/lib/analysisQueries.js into Spark SQL dialect.
  */
object AnalysisQueries {

  val BaseCols: Seq[String] = Seq("id", "display_name", "geom_type", "centroid_lon", "centroid_lat")

  final case class TableRef(table: String, key: String)

  /** UNION ALL of N theme tables with NULL-padded `_f*` alignment and
    * `_source` provenance tag (analysisQueries.js:5-24).
    */
  def buildShowQuery(tables: Seq[TableRef], limit: Int,
                     tableFields: Map[String, Set[String]] = Map.empty): String = {
    if (tables.isEmpty) return ""
    val maxF = tables.map(t => ThemeMeta.themeFields.getOrElse(t.key, Seq.empty).length)
      .foldLeft(0)(math.max)
    val unions = tables.map { t =>
      val present = tableFields.get(t.table)
      val fCols = (0 until maxF).map { i =>
        val defined = i < ThemeMeta.themeFields.getOrElse(t.key, Seq.empty).length &&
          present.forall(_.contains(s"_f$i"))
        if (defined) s"_f$i" else s"NULL AS _f$i"
      }
      val cols = BaseCols ++ Seq("st_asgeojson(geometry) AS geojson") ++ fCols :+ s"'${t.key}' AS _source"
      s"SELECT ${cols.mkString(", ")}\nFROM `${t.table}`"
    }
    unions.mkString("\nUNION ALL\n") + s"\nLIMIT $limit"
  }

  /** A-side analysis query (analysisQueries.js:26-41). The plain
    * pre-filter plans as a grid-cell hash join through
    * plans.GridJoinRule; the exact predicate is unchanged.
    */
  def buildQuery(mode: String, tableA: String, tableB: String,
                 distance: Double, limit: Int = 2000): String = {
    val cols = "a.*, st_asgeojson(a.geometry) AS geojson"
    val distDeg = f"${distance / 111320.0}%.6f"
    val preFlt =
      s"""ABS(a.centroid_lon - b.centroid_lon) < 0.2
         |  AND ABS(a.centroid_lat - b.centroid_lat) < 0.2""".stripMargin
    mode match {
      case "intersect" =>
        s"""SELECT $cols
           |FROM `$tableA` a
           |JOIN `$tableB` b
           |  ON $preFlt
           |  AND st_intersects(a.geometry, b.geometry)
           |LIMIT $limit""".stripMargin
      case "within" =>
        s"""SELECT $cols
           |FROM `$tableA` a
           |WHERE EXISTS (
           |  SELECT 1 FROM `$tableB` b
           |  WHERE $preFlt
           |    AND st_distance(a.geometry, b.geometry) < $distDeg
           |)
           |LIMIT $limit""".stripMargin
      case "exclude" =>
        s"""SELECT $cols
           |FROM `$tableA` a
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM `$tableB` b
           |  WHERE $preFlt
           |    AND st_distance(a.geometry, b.geometry) < $distDeg
           |)
           |LIMIT $limit""".stripMargin
      case _ => ""
    }
  }

  /** Matched-B-side query (inner join + DISTINCT; null for exclude —
    * analysisQueries.js:43-56).
    */
  def buildMatchedBQuery(mode: String, tableA: String, tableB: String,
                         distance: Double, limit: Int = 2000,
                         orderBy: Option[String] = None): Option[String] = {
    val distDeg = f"${distance / 111320.0}%.6f"
    val preFlt =
      s"""ABS(a.centroid_lon - b.centroid_lon) < 0.2
         |    AND ABS(a.centroid_lat - b.centroid_lat) < 0.2""".stripMargin
    // DISTINCT over b's own columns BEFORE computing geojson:
    // st_asgeojson is a deterministic function of b.geometry, so
    // DISTINCT(b.*, f(b)) ≡ DISTINCT(b.*) then project f — identical
    // to the reference's JOIN + DISTINCT (analysisQueries.js:43-56)
    // without materializing a GeoJSON string per joined pair (pair
    // count >> matched-row count). One grid-cell hash join
    // (plans.GridJoinRule) + one DISTINCT exchange over matched b rows
    // is the whole plan.
    val geoPred = mode match {
      case "intersect" => "st_intersects(a.geometry, b.geometry)"
      case "within"    => s"st_distance(a.geometry, b.geometry) < $distDeg"
      case _           => return None
    }
    // With orderBy set the cap truncates deterministically and Spark
    // plans ORDER BY+LIMIT as one TakeOrderedAndProject (partial
    // top-k, no single-partition exchange + sort stages).
    val tail = orderBy.map(c => s"ORDER BY t.`$c`\n").getOrElse("")
    Some(
      s"""SELECT t.*, st_asgeojson(t.geometry) AS geojson FROM (
         |  SELECT DISTINCT b.*
         |  FROM `$tableB` b
         |  JOIN `$tableA` a
         |    ON $preFlt
         |    AND $geoPred) t
         |${tail}LIMIT $limit""".stripMargin)
  }

  /** Intersection-geometry overlap query (AnalysisPanel.jsx:40-60;
    * capped, try/catch-skippable in the reference).
    */
  def buildIntersectionGeomQuery(tableA: String, tableB: String, limit: Int = 500): String =
    s"""SELECT st_asgeojson(st_intersection(a.geometry, b.geometry)) AS geojson
       |FROM `$tableA` a
       |JOIN `$tableB` b
       |  ON ABS(a.centroid_lon - b.centroid_lon) < 0.2
       |  AND ABS(a.centroid_lat - b.centroid_lat) < 0.2
       |  AND st_intersects(a.geometry, b.geometry)
       |LIMIT $limit""".stripMargin
}
