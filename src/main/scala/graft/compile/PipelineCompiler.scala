package graft.compile

import graft.fts.Bm25
import graft.model.ThemeMeta

/** The pipeline → SQL compiler: the engine's "logical planner".
  *
  * Semantics ported rule-for-rule from the reference compiler
  * (/root/reference/src/lib/pipeline.js:19-181) into Spark SQL text —
  * SQL text (not Column trees) because the reference's sqlOverride
  * feature hands users the compiled text to edit and re-run, so the
  * compiled artifact must be runnable source (`spark.sql(text)`).
  *
  * The semantic rules (these change RESULTS, they are not optimizer
  * choices — tested by the ported goldens):
  *  - union-only pipelines push a balanced `ceil(limit/nSources)`
  *    LIMIT into each union branch; spatial pipelines never do
  *    (they must see all loaded data) — pipeline.js:7-14,51-53
  *  - intersect/within filter tables are auto-included as sources;
  *    exclude tables are not — pipeline.js:39-44
  *  - `_f*` columns NULL-pad to the max field count across sources —
  *    pipeline.js:47-49,62-64
  *  - spatial matches collect IDs from BOTH sides (matched_i CTE =
  *    UNION of the two EXISTS directions) — pipeline.js:140-157
  *  - the cheap coordinate pre-filter (|Δ| < 0.2°) guards every
  *    spatial predicate — pipeline.js:129-132
  *  - meters→degrees is d/111320 printed with 6 decimals —
  *    pipeline.js:128
  *  - geometry → GeoJSON only in the outer SELECT — pipeline.js:103-111
  *  - ORDER BY _score DESC iff searching; final LIMIT always.
  */
object PipelineCompiler {

  sealed trait NodeType
  final case class PipelineNode(
      id: String,
      nodeType: String, // "source" | "combine"
      op: String = "", // "union" | "intersect" | "within" | "exclude"
      table: String = "",
      key: String = "",
      distance: Option[Double] = None)

  final case class Options(
      search: String = "",
      limit: Int = 3000,
      bbox: Option[(Double, Double, Double, Double)] = None, // xmin, xmax, ymin, ymax
      ftsTables: Set[String] = Set.empty,
      // schema-adaptive projection (P4): actual columns per table; a
      // table absent from the map is assumed to carry all its theme
      // fields (the reference compiler's assumption).
      tableFields: Map[String, Set[String]] = Map.empty)

  /** Backtick-quoted identifier, embedded backticks doubled — table
    * names from untrusted node configs cannot break out of the quoting.
    */
  private def ident(name: String): String = "`" + name.replace("`", "``") + "`"

  def compile(nodes: Seq[PipelineNode], opts: Options = Options()): String = {
    if (nodes.isEmpty) return ""

    val sources = scala.collection.mutable.ArrayBuffer[PipelineNode]()
    val spatialFilters = scala.collection.mutable.ArrayBuffer[PipelineNode]()
    nodes.foreach { n =>
      if (n.nodeType == "source" || (n.nodeType == "combine" && n.op == "union")) sources += n
      else if (n.nodeType == "combine") spatialFilters += n
    }
    if (sources.isEmpty) return ""

    val hasSpatial = spatialFilters.nonEmpty

    // auto-include intersect/within filter tables (never exclude)
    spatialFilters.foreach { sf =>
      if (sf.op != "exclude" && !sources.exists(_.table == sf.table)) sources += sf
    }

    // max _f* count across sources for UNION alignment
    val maxF = sources.map(n => ThemeMeta.themeFields.getOrElse(n.key, Seq.empty).length)
      .foldLeft(0)(math.max)

    val perSourceLimit: Option[Int] =
      if (hasSpatial) None else Some(math.ceil(opts.limit.toDouble / sources.length).toInt)

    val searchQ = if (opts.search.nonEmpty) Bm25.escapeSqlString(opts.search) else ""

    def sourceCols(n: PipelineNode): Seq[String] = {
      val defs = ThemeMeta.themeFields.getOrElse(n.key, Seq.empty)
      val present = opts.tableFields.get(n.table)
      val fCols = (0 until maxF).map { i =>
        val defined = i < defs.length && present.forall(_.contains(s"_f$i"))
        if (defined) s"_f$i" else s"NULL AS _f$i"
      }
      Seq("id", "display_name", "search_name", "geometry", "geom_type",
        "centroid_lon", "centroid_lat") ++ fCols :+ s"'${Bm25.escapeSqlString(n.key)}' AS _source"
    }

    // per-source branch: FTS tables join the BM25 score subquery
    // (our replacement for DuckDB's fts_main_<t>.match_bm25), others
    // filter by ILIKE with a NULL score.
    def sourceSelect(n: PipelineNode): String = {
      val cols = sourceCols(n)
      val limitClause = perSourceLimit.map(l => s"\n  LIMIT $l").getOrElse("")
      if (searchQ.nonEmpty && opts.ftsTables.contains(n.table)) {
        val colList = cols.map(c => if (c == "id") s"${ident(n.table)}.id" else c).mkString(", ")
        s"""  (SELECT $colList, _fts.`_score` AS _score
           |  FROM ${ident(n.table)}
           |  JOIN (${Bm25.scoreSql(n.table, opts.search).replace("\n", "\n    ")}) _fts
           |    ON ${ident(n.table)}.id = _fts.id$limitClause)""".stripMargin
      } else if (searchQ.nonEmpty) {
        s"""  (SELECT ${cols.mkString(", ")}, NULL AS _score
           |  FROM ${ident(n.table)}
           |  WHERE search_name ILIKE '%$searchQ%'$limitClause)""".stripMargin
      } else {
        s"""  (SELECT ${cols.mkString(", ")}
           |  FROM ${ident(n.table)}$limitClause)""".stripMargin
      }
    }

    val unionParts = sources.map(sourceSelect)

    val outCols = {
      val base = scala.collection.mutable.ArrayBuffer(
        "id", "display_name", "search_name",
        "st_asgeojson(geometry) AS geojson",
        "geom_type", "centroid_lon", "centroid_lat")
      (0 until maxF).foreach(i => base += s"_f$i")
      base += "_source"
      if (searchQ.nonEmpty) base += "_score"
      base.toSeq
    }

    val ctes = scala.collection.mutable.ArrayBuffer(
      s"base AS (\n${unionParts.mkString("\n  UNION ALL\n")}\n)")
    val wheres = scala.collection.mutable.ArrayBuffer[String]()

    opts.bbox.foreach { case (xmin, xmax, ymin, ymax) =>
      wheres += (s"centroid_lon >= $xmin AND centroid_lon <= $xmax" +
        s"\n    AND centroid_lat >= $ymin AND centroid_lat <= $ymax")
    }

    // spatial filters keep the reference's plain pre-filter form;
    // plans.GridJoinRule turns each EXISTS / NOT EXISTS into a hash
    // semi/anti join on grid cells (registered by Engine.prepare)
    spatialFilters.zipWithIndex.foreach { case (sf, i) =>
      val distDeg = f"${sf.distance.getOrElse(250.0) / 111320.0}%.6f"
      val pre =
        s"""base.id != b.id
           |      AND ABS(base.centroid_lon - b.centroid_lon) < 0.2
           |      AND ABS(base.centroid_lat - b.centroid_lat) < 0.2""".stripMargin

      if (sf.op == "intersect" || sf.op == "within") {
        val spatialCond =
          if (sf.op == "intersect") "st_intersects(base.geometry, b.geometry)"
          else s"st_distance(base.geometry, b.geometry) < $distDeg"
        ctes +=
          s"""matched_$i AS (
             |  SELECT base.id FROM base
             |  WHERE EXISTS (
             |    SELECT 1 FROM ${ident(sf.table)} b
             |    WHERE $pre
             |      AND $spatialCond
             |  )
             |  UNION
             |  SELECT b.id FROM ${ident(sf.table)} b
             |  WHERE EXISTS (
             |    SELECT 1 FROM base
             |    WHERE $pre
             |      AND $spatialCond
             |  )
             |)""".stripMargin
        wheres += s"id IN (SELECT id FROM matched_$i)"
      } else if (sf.op == "exclude") {
        wheres +=
          s"""NOT EXISTS (
             |    SELECT 1 FROM ${ident(sf.table)} b
             |    WHERE $pre
             |      AND st_distance(base.geometry, b.geometry) < $distDeg
             |  )""".stripMargin
      }
    }

    var sql = s"WITH ${ctes.mkString(",\n")}"
    sql += s"\nSELECT ${outCols.mkString(", ")}\nFROM base"
    if (wheres.nonEmpty) sql += s"\nWHERE ${wheres.mkString("\n  AND ")}"
    if (searchQ.nonEmpty) sql += "\nORDER BY _score DESC"
    sql += s"\nLIMIT ${opts.limit}"
    sql
  }

  /** Field names of each distinct node table the session can resolve —
    * the schema peek behind the adaptive `_f` projection (P4).
    */
  def tableFields(spark: org.apache.spark.sql.SparkSession,
                  nodes: Seq[PipelineNode]): Map[String, Set[String]] =
    nodes.map(_.table).filter(_.nonEmpty).distinct.flatMap { t =>
      try Some(t -> spark.table(t).schema.fieldNames.toSet)
      catch { case _: Exception => None }
    }.toMap

  /** Compile and execute against the session's registered views. */
  def run(spark: org.apache.spark.sql.SparkSession,
          nodes: Seq[PipelineNode], opts: Options = Options()): org.apache.spark.sql.DataFrame = {
    graft.core.Engine.prepare(spark)
    val sql = compile(nodes, opts.copy(tableFields = opts.tableFields ++ tableFields(spark, nodes)))
    require(sql.nonEmpty, "pipeline compiled to empty SQL (no sources)")
    spark.sql(sql)
  }
}
