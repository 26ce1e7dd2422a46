package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.compile.{AnalysisQueries, PipelineCompiler}
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.fts.FtsIndex

/** Driver-verifiable queries exercising the compiled pipeline path,
  * the analysis builders and FTS/BM25 end-to-end (SURVEY §2.9, §3.2,
  * §3.3) over the synthesized geo views.
  *
  * Verification wrapper: compiled pipelines end in a bare LIMIT whose
  * row choice is engine-arbitrary, so oracle-checked entries use a
  * non-truncating limit and re-order deterministically outside the
  * compiled SQL. BM25 scores are ROUNDed to 6 dp (ln() may differ by
  * 1 ulp between libm implementations).
  */
object PipelineQueries {

  private def placesNode =
    PipelineNode("p1", "source", "", "geo_places", "places/place")
  private def buildingsUnion =
    PipelineNode("p2", "combine", "union", "geo_buildings", "buildings/building")
  private def buildingsIntersect =
    PipelineNode("p2", "combine", "intersect", "geo_buildings", "buildings/building")
  private def buildingsExclude =
    PipelineNode("p2", "combine", "exclude", "geo_buildings", "buildings/building", Some(27830.0))

  // CASTs keep all-NULL _f columns string-typed (NullType columns
  // cannot be written to parquet by the Verify dump)
  private val outCols = Seq("id", "display_name", "search_name", "geom_type",
    "centroid_lon", "centroid_lat") ++
    (0 to 5).map(i => s"CAST(_f$i AS STRING) AS _f$i") :+ "_source"

  private def runPipeline(nodes: Seq[PipelineNode], opts: Options, withScore: Boolean = false)(
      s: SparkSession, dir: String): DataFrame = {
    GeoViews.register(s, dir)
    val df = PipelineCompiler.run(s, nodes, opts)
    val cols = if (withScore) outCols :+ "ROUND(CAST(_score AS DOUBLE), 6) AS _score" else outCols
    df.selectExpr(cols: _*).orderBy("_source", "id")
  }

  // oracle fragments ---------------------------------------------------

  /** places/buildings base-union in oracle arithmetic form: places
    * carry _f0, buildings NULL-pad; both pad _f1.._f5.
    */
  private val oracleBase =
    s"""base AS (
       |  SELECT id, display_name, search_name, geom_type, centroid_lon, centroid_lat,
       |         _f0, NULL AS _f1, NULL AS _f2, NULL AS _f3, NULL AS _f4, NULL AS _f5,
       |         'places/place' AS _source,
       |         centroid_lon AS plon, centroid_lat AS plat, NULL AS xmin, NULL AS xmax, NULL AS ymin, NULL AS ymax
       |  FROM geo_places
       |  UNION ALL
       |  SELECT id, display_name, search_name, geom_type, centroid_lon, centroid_lat,
       |         NULL AS _f0, NULL AS _f1, NULL AS _f2, NULL AS _f3, NULL AS _f4, NULL AS _f5,
       |         'buildings/building' AS _source,
       |         NULL AS plon, NULL AS plat, xmin, xmax, ymin, ymax
       |  FROM geo_buildings)""".stripMargin

  private val oracleOut =
    "SELECT id, display_name, search_name, geom_type, centroid_lon, centroid_lat, " +
      "_f0, CAST(_f1 AS VARCHAR) AS _f1, CAST(_f2 AS VARCHAR) AS _f2, CAST(_f3 AS VARCHAR) AS _f3, " +
      "CAST(_f4 AS VARCHAR) AS _f4, CAST(_f5 AS VARCHAR) AS _f5, _source"

  /** BM25 index CTEs over a table's search_name, mirroring
    * FtsIndex.build + Bm25.scoreSql arithmetic exactly; `p` prefixes
    * the CTE names so several tables' indexes coexist in one WITH.
    */
  private def oracleBm25(termListSql: String, table: String = "geo_places",
                         p: String = "fts"): String =
    s"""${p}_terms AS (
       |  SELECT id, t.term
       |  FROM $table, unnest(string_split_regex(lower(search_name), '[^a-z0-9]+')) AS t(term)
       |  WHERE t.term <> ''),
       |${p}_tf AS (SELECT id, term, COUNT(*) AS tf FROM ${p}_terms GROUP BY id, term),
       |${p}_doclen AS (SELECT id, COUNT(*) AS doclen FROM ${p}_terms GROUP BY id),
       |${p}_df AS (SELECT term, COUNT(*) AS df FROM ${p}_tf GROUP BY term),
       |${p}_stats AS (SELECT COUNT(*) AS ndocs, CAST(SUM(doclen) AS DOUBLE)/COUNT(*) AS avgdl FROM ${p}_doclen),
       |${p}_scores AS (
       |  SELECT id, SUM(
       |    ln(CAST(1.0 AS DOUBLE) + ((ndocs - df) + CAST(0.5 AS DOUBLE))/(df + CAST(0.5 AS DOUBLE)))
       |    * tf * CAST(2.2 AS DOUBLE) /
       |    (tf + CAST(1.2 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * doclen / avgdl))) AS _score
       |  FROM ${p}_tf JOIN ${p}_doclen USING (id) JOIN ${p}_df USING (term) CROSS JOIN ${p}_stats
       |  WHERE term IN ($termListSql)
       |  GROUP BY id)""".stripMargin

  val queries: Seq[Q] = Seq(

    // §3.2 union-only pipeline (non-truncating limit → deterministic).
    Q("pipeline_union",
      runPipeline(Seq(placesNode, buildingsUnion), Options(limit = 50000)),
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings},\n$oracleBase\n" +
        s"$oracleOut FROM base ORDER BY _source, id")),

    // §3.2 spatial pipeline: intersect (bidirectional matched ids).
    Q("pipeline_intersect",
      runPipeline(Seq(placesNode, buildingsIntersect), Options(limit = 50000)),
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings},\n$oracleBase,\n" +
        // the compiled base CTE contains BOTH sources (buildings are
        // auto-included), so the first matched branch scans base: a
        // base row intersects building b either as point-in-rect
        // (places rows) or rect-overlap — and two 0.25°-wide rects
        // whose centroids pass the 0.2° pre-filter ALWAYS overlap, so
        // the buildings case reduces to TRUE under the pre-filter.
        """matched AS (
          |  SELECT base.id FROM base
          |  WHERE EXISTS (SELECT 1 FROM geo_buildings b
          |    WHERE base.id != b.id
          |      AND ABS(base.centroid_lon - b.centroid_lon) < 0.2
          |      AND ABS(base.centroid_lat - b.centroid_lat) < 0.2
          |      AND (CASE WHEN base._source = 'places/place'
          |           THEN base.plon BETWEEN b.xmin AND b.xmax
          |            AND base.plat BETWEEN b.ymin AND b.ymax
          |           ELSE TRUE END))
          |  UNION
          |  SELECT b.id FROM geo_buildings b
          |  WHERE EXISTS (SELECT 1 FROM base
          |    WHERE base.id != b.id
          |      AND ABS(base.centroid_lon - b.centroid_lon) < 0.2
          |      AND ABS(base.centroid_lat - b.centroid_lat) < 0.2
          |      AND (CASE WHEN base._source = 'places/place'
          |           THEN base.plon BETWEEN b.xmin AND b.xmax
          |            AND base.plat BETWEEN b.ymin AND b.ymax
          |           ELSE TRUE END)))
          |""".stripMargin +
        s"$oracleOut FROM base WHERE id IN (SELECT id FROM matched) ORDER BY _source, id")),

    // §3.2 spatial pipeline: exclude (NOT EXISTS, base stays places-only).
    Q("pipeline_exclude",
      runPipeline(Seq(placesNode, buildingsExclude), Options(limit = 50000)),
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings}\n" +
        """SELECT id, display_name, search_name, geom_type, centroid_lon, centroid_lat,
          |  _f0, CAST(NULL AS VARCHAR) AS _f1, CAST(NULL AS VARCHAR) AS _f2, CAST(NULL AS VARCHAR) AS _f3,
          |  CAST(NULL AS VARCHAR) AS _f4, CAST(NULL AS VARCHAR) AS _f5, 'places/place' AS _source
          |FROM geo_places base
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM geo_buildings b
          |  WHERE base.id != b.id
          |    AND ABS(base.centroid_lon - b.centroid_lon) < 0.2
          |    AND ABS(base.centroid_lat - b.centroid_lat) < 0.2
          |    AND sqrt(GREATEST(b.xmin - base.centroid_lon, base.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
          |             * GREATEST(b.xmin - base.centroid_lon, base.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
          |             + GREATEST(b.ymin - base.centroid_lat, base.centroid_lat - b.ymax, CAST(0 AS DOUBLE))
          |             * GREATEST(b.ymin - base.centroid_lat, base.centroid_lat - b.ymax, CAST(0 AS DOUBLE))) < 0.250000)
          |ORDER BY _source, id""".stripMargin)),

    // §2.9 F4: ILIKE search path through the compiler.
    Q("pipeline_search_ilike",
      runPipeline(Seq(placesNode), Options(search = "building", limit = 50000), withScore = true),
      Some(s"WITH ${GeoViews.oraclePlaces}\n" +
        """SELECT id, display_name, search_name, geom_type, centroid_lon, centroid_lat,
          |  _f0, CAST(NULL AS VARCHAR) AS _f1, CAST(NULL AS VARCHAR) AS _f2, CAST(NULL AS VARCHAR) AS _f3,
          |  CAST(NULL AS VARCHAR) AS _f4, CAST(NULL AS VARCHAR) AS _f5, 'places/place' AS _source,
          |  CAST(NULL AS DOUBLE) AS _score
          |FROM geo_places WHERE search_name ILIKE '%building%'
          |ORDER BY _source, id""".stripMargin)),

    // §2.9 F1/F2: FTS-indexed search path with BM25 scores.
    Q("pipeline_search_fts",
      (s, dir) => {
        GeoViews.register(s, dir)
        FtsIndex.ensure(s, "geo_places")
        val df = PipelineCompiler.run(s, Seq(placesNode),
          Options(search = "building", limit = 50000, ftsTables = Set("geo_places")))
        df.selectExpr(outCols :+ "ROUND(CAST(_score AS DOUBLE), 6) AS _score": _*)
          .orderBy("_source", "id")
      },
      Some(s"WITH ${GeoViews.oraclePlaces},\n${oracleBm25("'building'")}\n" +
        """SELECT p.id, p.display_name, p.search_name, p.geom_type, p.centroid_lon, p.centroid_lat,
          |  p._f0, CAST(NULL AS VARCHAR) AS _f1, CAST(NULL AS VARCHAR) AS _f2, CAST(NULL AS VARCHAR) AS _f3,
          |  CAST(NULL AS VARCHAR) AS _f4, CAST(NULL AS VARCHAR) AS _f5, 'places/place' AS _source,
          |  ROUND(s._score, 6) AS _score
          |FROM geo_places p JOIN fts_scores s ON p.id = s.id
          |ORDER BY _source, p.id""".stripMargin)),

    // §2.9 F5: ranked single-table FTS search (top-k by score).
    Q("fts_search_ranked",
      (s, dir) => {
        GeoViews.register(s, dir)
        FtsIndex.ensure(s, "geo_places")
        graft.fts.Bm25.ftsSearch(s, "geo_places", "building customer", limit = 100000)
          .selectExpr("id", "display_name", "centroid_lon", "centroid_lat",
            "ROUND(_score, 6) AS _score", "source_table")
          .orderBy("id")
      },
      Some(s"WITH ${GeoViews.oraclePlaces},\n${oracleBm25("'building', 'customer'")}\n" +
        """SELECT p.id, p.display_name, p.centroid_lon, p.centroid_lat,
          |  ROUND(s._score, 6) AS _score, 'geo_places' AS source_table
          |FROM geo_places p JOIN fts_scores s ON p.id = s.id
          |ORDER BY p.id""".stripMargin)),

    // §2.9 F5: multi-table search fan-out as ONE plan — per-table BM25
    // indexes, per-table scoring, unioned with source_table tags
    // (fts.js:70-114's loop, minus the driver-side isolation that
    // searchAll keeps for the degradation contract).
    Q("fts_search_multi",
      (s, dir) => {
        GeoViews.register(s, dir)
        FtsIndex.ensure(s, "geo_places")
        FtsIndex.ensure(s, "geo_buildings")
        graft.fts.Bm25.searchAllDf(
            s, Seq("geo_places", "geo_buildings"), "building customer", limit = 100000)
          .selectExpr("id", "display_name", "centroid_lon", "centroid_lat",
            "ROUND(_score, 6) AS _score", "source_table")
          .orderBy("source_table", "id")
      },
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings},\n" +
        s"${oracleBm25("'building', 'customer'", "geo_places", "pf")},\n" +
        s"${oracleBm25("'building', 'customer'", "geo_buildings", "bf")}\n" +
        """SELECT * FROM (
          |  SELECT p.id, p.display_name, p.centroid_lon, p.centroid_lat,
          |    ROUND(s._score, 6) AS _score, 'geo_places' AS source_table
          |  FROM geo_places p JOIN pf_scores s ON p.id = s.id
          |  UNION ALL
          |  SELECT b.id, b.display_name, b.centroid_lon, b.centroid_lat,
          |    ROUND(s._score, 6) AS _score, 'geo_buildings' AS source_table
          |  FROM geo_buildings b JOIN bf_scores s ON b.id = s.id)
          |ORDER BY source_table, id""".stripMargin)),

    // §3.3 analysis: show-union with _source tags + NULL padding.
    Q("analysis_show_union",
      (s, dir) => {
        GeoViews.register(s, dir)
        val sql = AnalysisQueries.buildShowQuery(
          Seq(
            AnalysisQueries.TableRef("geo_places", "places/place"),
            AnalysisQueries.TableRef("geo_buildings", "transportation/connector")),
          50000,
          tableFields = Map(
            "geo_places" -> s.table("geo_places").schema.fieldNames.toSet,
            "geo_buildings" -> s.table("geo_buildings").schema.fieldNames.toSet))
        // connector key has 0 fields → its branch pads all _f;
        // geo_places carries only _f0, so select the verifiable subset
        s.sql(sql).selectExpr("id", "display_name", "geom_type",
          "centroid_lon", "centroid_lat", "_source").orderBy("_source", "id")
      },
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings}\n" +
        """SELECT id, display_name, geom_type, centroid_lon, centroid_lat, _source FROM (
          |  SELECT id, display_name, geom_type, centroid_lon, centroid_lat, 'places/place' AS _source FROM geo_places
          |  UNION ALL
          |  SELECT id, display_name, geom_type, centroid_lon, centroid_lat, 'transportation/connector' FROM geo_buildings)
          |ORDER BY _source, id""".stripMargin)),

    // §3.3 analysis: within A-side query.
    Q("analysis_within",
      (s, dir) => {
        GeoViews.register(s, dir)
        val sql = AnalysisQueries.buildQuery("within", "geo_places", "geo_buildings", 27830.0, 50000)
        s.sql(sql).selectExpr("id", "display_name", "centroid_lon", "centroid_lat").orderBy("id")
      },
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings}\n" +
        """SELECT a.id, a.display_name, a.centroid_lon, a.centroid_lat
          |FROM geo_places a
          |WHERE EXISTS (
          |  SELECT 1 FROM geo_buildings b
          |  WHERE ABS(a.centroid_lon - b.centroid_lon) < 0.2
          |    AND ABS(a.centroid_lat - b.centroid_lat) < 0.2
          |    AND sqrt(GREATEST(b.xmin - a.centroid_lon, a.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
          |             * GREATEST(b.xmin - a.centroid_lon, a.centroid_lon - b.xmax, CAST(0 AS DOUBLE))
          |             + GREATEST(b.ymin - a.centroid_lat, a.centroid_lat - b.ymax, CAST(0 AS DOUBLE))
          |             * GREATEST(b.ymin - a.centroid_lat, a.centroid_lat - b.ymax, CAST(0 AS DOUBLE))) < 0.250000)
          |ORDER BY a.id""".stripMargin)),

    // §3.3 analysis: matched-B side (DISTINCT).
    Q("analysis_matched_b",
      (s, dir) => {
        GeoViews.register(s, dir)
        val sql = AnalysisQueries.buildMatchedBQuery("intersect", "geo_places", "geo_buildings", 100.0, 50000,
          orderBy = Some("id")).get
        s.sql(sql).selectExpr("id", "display_name", "centroid_lon", "centroid_lat")
      },
      Some(s"WITH ${GeoViews.oraclePlaces},\n${GeoViews.oracleBuildings}\n" +
        """SELECT DISTINCT b.id, b.display_name, b.centroid_lon, b.centroid_lat
          |FROM geo_places a JOIN geo_buildings b
          |  ON ABS(a.centroid_lon - b.centroid_lon) < 0.2
          |  AND ABS(a.centroid_lat - b.centroid_lat) < 0.2
          |  AND a.centroid_lon BETWEEN b.xmin AND b.xmax
          |  AND a.centroid_lat BETWEEN b.ymin AND b.ymax
          |ORDER BY b.id""".stripMargin)),

    // S10: session KV round-trip (deterministic output, VALUES oracle).
    Q("s10_session_kv",
      (s, dir) => {
        val tmp = graft.ops.TableWrite.scratchDir("graft_skv")
        val st = new graft.session.SessionState(s, tmp)
        st.set("pipelineSearch", "cafe")
        st.set("pipelineLimit", "5000")
        st.set("pipelineSearch", "bar") // upsert
        st.delete("pipelineLimit")
        st.set("viewportCap", "3000")
        st.sync() // one debounced checkpoint for the whole burst
        // fresh instance = read back through the parquet file, so the
        // oracle row proves the disk round-trip, not just the map
        val st2 = new graft.session.SessionState(s, tmp)
        import s.implicits._
        st2.all.toSeq.toDF("key", "val").orderBy("key")
      },
      Some("""SELECT * FROM (VALUES ('pipelineSearch', 'bar'), ('viewportCap', '3000'))
             |AS t(key, val) ORDER BY key""".stripMargin)),

    // S9: load-history append log. The log row carries timestamps
    // (nondeterministic), but the projected deterministic columns are
    // oracle-checkable — the append/read round-trip is still the thing
    // exercised.
    Q("s9_load_history",
      (s, dir) => {
        val tmp = graft.ops.TableWrite.scratchDir("graft_lh")
        graft.session.LoadHistory.append(s, tmp, graft.session.LoadHistory.Entry(
          "places/place", "local", "[-4,-2,4,2]", 33000, cached = false, 100, 4, 42))
        graft.session.LoadHistory.read(s, tmp)
          .selectExpr("key", "release", "row_count", "file_count")
      },
      Some("""SELECT 'places/place' AS key, 'local' AS release,
             |CAST(100 AS BIGINT) AS row_count, CAST(4 AS BIGINT) AS file_count""".stripMargin)),
  )
}
