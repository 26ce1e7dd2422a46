package graft.fts

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 scoring + the two-tier search the reference exposes
  * (fts.js:70-114): FTS ranked search when an index exists, ILIKE
  * substring fallback (shortest-name-first) otherwise; multi-table
  * fan-out with per-table failure isolation.
  *
  * Over a driver-held table and index (a capped area load) the whole
  * search — the score aggregate, its join with the table and the
  * top-k — folds on the driver through `plans.LocalEvalRule`, so a
  * search collects with no Spark job; over distributed tables it runs
  * on Spark.
  */
object Bm25 {

  def escapeSqlString(s: String): String = String.valueOf(s).replace("'", "''")

  /** SQL text computing (id, _score) for `query` against the
    * `fts_main_<table>` index — the compiler splices this where DuckDB
    * would call `fts_main_<t>.match_bm25(id, 'q')`. Pure text so the
    * pipeline compiler stays unit-testable without a session.
    */
  def scoreSql(table: String, query: String): String = {
    val raw = FtsIndex.tokenize(query)
    // query terms must match the index's token normalization
    val toks = if (FtsIndex.isStemmed(table)) raw.map(Porter.stem) else raw
    val termList =
      if (toks.isEmpty) "'\u0000'" // matches nothing
      else toks.distinct.map(t => s"'${escapeSqlString(t)}'").mkString(", ")
    // explicit DOUBLE casts keep the arithmetic double-typed (bare
    // literals parse as DECIMAL) and bit-compatible with the oracle
    s"""SELECT id, SUM(idf * tf * CAST(${FtsIndex.K1 + 1} AS DOUBLE) /
       |  (tf + CAST(${FtsIndex.K1} AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(${FtsIndex.B} AS DOUBLE) + CAST(${FtsIndex.B} AS DOUBLE) * doclen / avgdl))) AS _score
       |FROM `${FtsIndex.indexName(table).replace("`", "``")}`
       |WHERE term IN ($termList)
       |GROUP BY id""".stripMargin
  }

  /** Ranked FTS search over one table (reference fts.js:79-91), as
    * one SQL statement: one parse and one analysis, where a chain of
    * DataFrame calls analyzes the growing plan once per call.
    */
  def ftsSearch(spark: SparkSession, table: String, query: String, limit: Int = 10): DataFrame =
    spark.sql(
      s"""SELECT t.id, t.display_name, t.centroid_lon, t.centroid_lat, s._score,
         |  '${escapeSqlString(table)}' AS source_table
         |FROM `${table.replace("`", "``")}` t
         |JOIN (${scoreSql(table, query)}) s ON t.id = s.id
         |ORDER BY s._score DESC, t.id
         |LIMIT $limit""".stripMargin)

  /** ILIKE fallback, shortest-name-first (fts.js:98-109). */
  def ilikeSearch(spark: SparkSession, table: String, query: String, limit: Int = 10): DataFrame =
    spark.table(table)
      .where(lower(col("search_name")).contains(query.toLowerCase))
      .select(col("id"), col("display_name"), col("centroid_lon"), col("centroid_lat"),
        lit(null).cast("double").as("_score"), lit(table).as("source_table"))
      .orderBy(length(col("search_name")), col("id"))
      .limit(limit)

  /** Two-tier per-table search: FTS when indexed, else ILIKE
    * (fts.js:70-114 incl. the graceful-degradation contract).
    */
  def searchTable(spark: SparkSession, table: String, query: String, limit: Int = 10): DataFrame = {
    val q = String.valueOf(query).trim
    if (q.isEmpty) return spark.emptyDataFrame
    if (FtsIndex.hasIndex(spark, table))
      try return ftsSearch(spark, table, q, limit)
      catch { case _: Exception => () } // fall through to ILIKE
    ilikeSearch(spark, table, q, limit)
  }

  /** Multi-table fan-out with per-table isolation (fts.js:70-114):
    * one broken table never poisons the whole search. The per-table
    * searches are independent (their planning, and their driver-side
    * evaluation over driver-held tables), so they overlap; the rows
    * come back in table order.
    */
  def searchAll(spark: SparkSession, tables: Seq[String], query: String,
                limit: Int = 10): Seq[Row] =
    tables.map { t =>
      graft.ops.Concurrent.forkValue {
        try searchTable(spark, t, query, limit).collect().toSeq
        catch { case _: Exception => Seq.empty[Row] }
      }
    }.flatMap(_())

  /** Single-plan form of the multi-table fan-out: the per-table
    * two-tier searches union into one DataFrame (schemas are
    * identical by construction). Use `searchAll` when the reference's
    * per-table failure isolation matters; this form keeps the fan-out
    * inside one Catalyst plan — per-table top-k then a ≤
    * tables×limit-row union, no driver-side row traffic.
    */
  def searchAllDf(spark: SparkSession, tables: Seq[String], query: String,
                  limit: Int = 10): DataFrame = {
    require(tables.nonEmpty,
      "searchAllDf needs at least one table (reduce over an empty fan-out)")
    tables.map(t => searchTable(spark, t, query, limit)).reduce(_.unionByName(_))
  }
}
