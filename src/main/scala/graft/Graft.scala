package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.fts.{Bm25, FtsIndex}
import graft.ingest.Ingest
import graft.model.{CanonicalSchema, CanonicalFeature, ThemeMeta}
import graft.runtime.PipelineSession
import graft.session.{LoadHistory, SessionState}

/** The user-facing engine API — everything the reference app exposes,
  * Spark-shaped (reference entry points: controller.js loadArea,
  * pipelineRunner reactive loop, fts search fan-out, direct SQL
  * panels).
  *
  * This class is that reference surface plus the few composites that
  * FacadeSpec proves equal to their oracle rows. The training-data operators are not re-exported here:
  * call them through `graft.ops` (e.g. `graft.ops.Dedup`,
  * `graft.ops.TextAnalysis`, `graft.ops.Sampling`), which owns their
  * parameters, defaults and documentation.
  *
  * Typical session:
  * {{{
  * val spark = graft.core.Engine.session() // the one builder; prepares the session
  * val g = new Graft(spark, stateDir = "/tmp/graft-state")
  * g.loadArea("/data/overture", Seq("places/place", "buildings/building"),
  *   bbox = Some(Ingest.BBox(-118.3, 34.0, -118.2, 34.1)))
  * val sess = g.pipeline()
  * sess.update(nodes = Seq(PipelineNode("p1", "source", "", "places_place", "places/place")))
  * val rows = sess.executeNow().get.collect()
  * g.search("cafe")                       // ranked multi-table FTS
  * g.sql("SELECT count(*) FROM places_place") // raw SQL over the views
  * }}}
  */
final class Graft(val spark: SparkSession, stateDir: String) {

  graft.core.Engine.prepare(spark)

  val sessionState = new SessionState(spark, stateDir)

  /** Load themes for an area: spatial file pruning → bbox-pushdown
    * scan → canonical materialization → view + FTS registration +
    * load-history row (reference loadArea, controller.js:119-146;
    * themes are loaded concurrently there — Spark schedules the jobs,
    * so sequential submission keeps the same wall-clock behavior with
    * deterministic error attribution).
    */
  def loadArea(
      baseDir: String,
      keys: Seq[String],
      bbox: Option[Ingest.BBox] = None,
      limit: Option[Int] = Some(Ingest.AreaLimit)): Map[String, Ingest.LoadResult] =
    keys.map { key =>
      val res = Ingest.loadTheme(spark, baseDir, key, bbox, limit)
      if (ThemeMeta.themeMeta.get(key).exists(_.searchable))
        try FtsIndex.build(spark, res.table)
        catch { case _: Exception => () } // FTS is best-effort (fts.js:63-67)
      LoadHistory.append(spark, stateDir, LoadHistory.Entry(
        key, baseDir, bbox.map(b => s"[${b.xmin},${b.ymin},${b.xmax},${b.ymax}]").getOrElse(""),
        limit.map(_.toLong).getOrElse(-1L), cached = false,
        res.rowCount, res.fileCount, res.loadTimeMs))
      key -> res
    }.toMap

  def dropArea(keys: Seq[String]): Unit = keys.foreach { key =>
    FtsIndex.drop(spark, ThemeMeta.tableName(key))
    Ingest.dropTheme(spark, key)
  }

  /** A reactive pipeline session (debounce, memoization, FTS
    * fallback).
    */
  def pipeline(debounceMs: Long = 300): PipelineSession =
    new PipelineSession(spark, debounceMs)

  /** One-shot pipeline execution. */
  def runPipeline(nodes: Seq[PipelineNode], opts: Options = Options()): DataFrame =
    graft.compile.PipelineCompiler.run(spark, nodes, opts)

  /** Ranked multi-table search with per-table isolation (fts.js
    * fan-out): FTS-indexed tables score with BM25, the rest fall back
    * to ILIKE.
    */
  def search(query: String, tables: Seq[String] = Nil, limit: Int = 10): Seq[Row] = {
    val ts = if (tables.nonEmpty) tables else Ingest.listUserTables(spark)
    Bm25.searchAll(spark, ts, query, limit)
  }

  /** Direct SQL over the registered views (§3.3 — the sqlOverride /
    * SQL-panel surface).
    */
  def sql(text: String): DataFrame = spark.sql(text)

  /** Direct SQL in the DuckDB dialect: a reference-session override
    * runs unmodified — syntax deltas are rewritten by
    * [[graft.compile.DuckSqlShim]] and DuckDB function names resolve
    * via [[graft.functions.DuckFunctions]] (registered once, by the
    * constructor's `Engine.prepare` — not per statement). See
    * docs/sql-dialect.md for the covered surface.
    */
  def duckSql(text: String): DataFrame = {
    // schema access enables the COLUMNS('regex') select-list expansion
    val resolve = (t: String) =>
      scala.util.Try(spark.table(t).columns.toSeq).toOption
    // data access enables the dynamic statement-form PIVOT (no IN
    // list): DuckDB enumerates the distinct non-NULL pivot values,
    // ordered by their string form, and names columns after them.
    // The probe is one bounded-collect DISTINCT (the shim caps the
    // width at MaxDynamicPivotValues) — the same enumeration DuckDB
    // itself performs before binding a dynamic pivot.
    val distinctVals = (source: String, column: String) => scala.util.Try {
      import org.apache.spark.sql.types._
      val probeSql = s"SELECT DISTINCT $column AS __pv FROM $source WHERE $column IS NOT NULL"
      val probe = spark.sql(graft.compile.DuckSqlShim.rewrite(probeSql, resolve))
        .orderBy(org.apache.spark.sql.functions.col("__pv").cast("string"))
        .limit(graft.compile.DuckSqlShim.MaxDynamicPivotValues + 1)
      val dt = probe.schema("__pv").dataType
      probe.collect().toSeq.map { r =>
        val s = String.valueOf(r.get(0))
        val lit = dt match {
          case _: NumericType | BooleanType => s
          case DateType                     => s"DATE '$s'"
          case _: TimestampType             => s"TIMESTAMP '$s'"
          case TimestampNTZType             => s"TIMESTAMP_NTZ '$s'"
          case _                            => "'" + s.replace("'", "''") + "'"
        }
        (lit, s)
      }
    }.toOption
    spark.sql(graft.compile.DuckSqlShim.rewrite(text, resolve, distinctVals))
  }

  /** SQL with Arrow results: the reference surfaces query results as
    * Arrow record batches to its consumers
    * (src/react/components/SqlQueryPanel.jsx:110-112); this is the
    * same contract — each returned chunk is a self-describing Arrow
    * IPC stream (schema + one record batch), serialized by Spark's own
    * Arrow writer (the PySpark `toArrow()` code path). Rebuild a
    * DataFrame from them with [[Graft.fromArrow]].
    */
  def sqlArrow(text: String, maxRecordsPerBatch: Long = 10000L): Array[Array[Byte]] =
    org.apache.spark.sql.graft.ArrowBridge.toArrowBatches(sql(text), maxRecordsPerBatch)

  /** Inverse of [[sqlArrow]] — Arrow IPC chunks back to a DataFrame. */
  def fromArrow(batches: Seq[Array[Byte]]): DataFrame =
    org.apache.spark.sql.graft.ArrowBridge.fromArrowBatches(spark, batches.iterator)

  /** Typed boundary: a loaded theme as Dataset[CanonicalFeature]. */
  def features(key: String): Dataset[CanonicalFeature] = {
    import spark.implicits._
    spark.table(ThemeMeta.tableName(key))
      .selectExpr(CanonicalSchema.baseColumnNames: _*)
      .as[CanonicalFeature]
  }

  def loadHistory: DataFrame = LoadHistory.read(spark, stateDir)

  // ── composites pinned to their oracle rows (FacadeSpec) ───────────

  /** Drop near-duplicate documents via MinHash+LSH candidate pairs at
    * `threshold` estimated Jaccard (the `dedup_drop_near` row).
    */
  def dedupNear(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.5): DataFrame =
    graft.ops.Dedup.dropPairedDuplicates(df, idCol,
      graft.ops.Dedup.minhashLshPairs(df, idCol, textCol, threshold = threshold))

  /** Drop near-duplicates via shared winnowing fingerprints within
    * `blockCols` blocks — the rolling-hash alternative to MinHash
    * (cheaper pair generation: only window-selected hashes join; the
    * `dedup_drop_winnow` row).
    */
  def dedupWinnow(df: DataFrame, idCol: String, textCol: String,
                  blockCols: Seq[String], threshold: Double = 0.5): DataFrame =
    graft.ops.Dedup.dropPairedDuplicates(df, idCol,
      graft.ops.Dedup.winnowPairs(df, idCol, textCol, blockCols, threshold = threshold))

  /** Gopher-style repetition quality stats (duplicate word / 2-gram /
    * 3-gram fractions, top-word share) as one fused-kernel struct
    * column `rep_stats` — the duplicate-content pre-training filters
    * (the `text_repetition` row's columns are its fields).
    */
  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("rep_stats",
      graft.ops.TextAnalysis.repetitionStats(col(textCol)))
  }

  /** [[graft.ops.Sampling.snakeShards]] + write: one parquet directory
    * per shard (`shard=K/`), each holding a near-equal share of the
    * total weight — the training-shard writer (read back, the
    * `sample_shard_snake` row). The shard column is an annotation, so
    * the write shuffles nothing extra: rows flow from the rank join
    * straight into the partitioned sink.
    */
  def writeShards(df: DataFrame, path: String, weightCol: String,
                  nShards: Int, bandWidth: Int = 16,
                  idCol: String = "doc_id"): Unit =
    graft.ops.Sampling.snakeShards(df, idCol, weightCol, nShards, bandWidth)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Export a registered table to parquet, optionally z-order
    * clustered on its centroid columns for spatially-pruned reads.
    */
  def exportTable(table: String, path: String,
                  zorderPartitions: Option[Int] = None): Unit =
    Ingest.exportTheme(spark, table, path, zorderPartitions)
}
