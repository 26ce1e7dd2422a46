package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.storage.StorageLevel
import graft.model.ThemeMeta

/** Theme ingestion: file discovery → spatial file pruning → canonical
  * projection with bbox pushdown → bounded materialization → view
  * registration.
  *
  * Materialization is a size decision, not a mode: a load capped at
  * [[AreaLimit]] rows or fewer is collected once into a driver-held
  * `LocalRelation`, so later edits, searches and the FTS build over it
  * evaluate on the driver with no Spark job (the reference serves each
  * interaction from small in-process per-theme tables): Catalyst folds
  * their projections, filters and limits, and `plans.LocalEvalRule`
  * their unions, joins, aggregates and sorts, up to
  * `LocalEvalRule.MaxRows` rows. An uncapped or larger load stays
  * distributed and is persisted (`MEMORY_AND_DISK`).
  *
  * Spark-first re-expression of the reference's loadTheme
  * (/root/reference/src/lib/themes.js:204-410): the reference's 3-file
  * CTAS/INSERT batching disappears (Spark parallelizes the scan), the
  * row limit becomes a plan-level `limit(n)` (short-circuits the scan
  * via CollectLimit), and the RTREE index is replaced by file-level
  * bbox pruning + parquet row-group stats pushdown.
  */
object Ingest {

  final case class LoadResult(
      table: String,
      df: DataFrame,
      rowCount: Long,
      fileCount: Int,
      prunedFileCount: Int,
      loadTimeMs: Long)

  final case class BBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  /** The app's per-theme area cap: the most rows an area load keeps
    * (the default of [[graft.Graft.loadArea]]). A load capped at or
    * below it is held on the driver.
    */
  val AreaLimit = 33000

  /** Load one theme into a canonical cached view.
    *
    * @param baseDir directory containing `<theme_type>/` parquet datasets
    * @param key     theme/type key, e.g. "places/place"
    * @param bbox    optional spatial window (file-pruned + pushed down)
    * @param limit   optional max rows to materialize; at most
    *                [[AreaLimit]] keeps the rows on the driver
    */
  def loadTheme(
      spark: SparkSession,
      baseDir: String,
      key: String,
      bbox: Option[BBox] = None,
      limit: Option[Int] = None): LoadResult = {
    val t0 = System.nanoTime()
    graft.core.Engine.prepare(spark)
    val table = ThemeMeta.tableName(key)
    val allPaths = FileIndex.listParquet(s"$baseDir/$table")
    require(allPaths.nonEmpty, s"no parquet files under $baseDir/$table")

    // 1. spatial file pruning from footer stats (R1)
    val paths = bbox match {
      case Some(b) =>
        val manifest = FileIndex.build(spark, allPaths)
        FileIndex.prune(manifest, allPaths, b.xmin, b.ymin, b.xmax, b.ymax)
      case None => allPaths
    }

    // 2. schema peek drives the adaptive projection (S2): one footer
    // read on the driver, as Spark's inference reads the first file,
    // but without its one-task job
    val src = spark.read.schema(FileIndex.sparkSchema(spark, paths.head)).parquet(paths: _*)
    val cols = src.schema.fieldNames.toSet

    // 3. bbox predicate pushed into the scan (R2) + canonical projection (R3)
    val filtered = bbox match {
      case Some(b) if cols.contains("bbox") =>
        src.where(CacheSelect.bboxFilter(b.xmin, b.ymin, b.xmax, b.ymax))
      case _ => src
    }
    val projected = filtered.selectExpr(CacheSelect.buildCacheSelect(cols, key): _*)
    val bounded = limit.map(projected.limit).getOrElse(projected)

    // 4. materialize + register (S4): capped → driver rows, else persisted
    val (cached, rowCount) =
      if (limit.exists(_ <= AreaLimit)) DatasetBridge.collectToLocal(bounded)
      else {
        val p = bounded.persist(StorageLevel.MEMORY_AND_DISK)
        (p, p.count())
      }
    cached.createOrReplaceTempView(table)
    LoadResult(table, cached, rowCount, allPaths.length, paths.length,
      (System.nanoTime() - t0) / 1000000)
  }

  /** Write a loaded theme to a parquet dataset (S6 sink), optionally
    * z-order-clustered: range-partitioned + sorted on the Morton key
    * of the centroid so each emitted file covers a compact spatial
    * tile — that is what makes the footer bbox manifest (FileIndex)
    * and parquet row-group stats selective on the NEXT read. At 100 TB
    * the re-cluster is one range-shuffle; skipping it writes files
    * whose stats span the world and prune nothing.
    */
  def exportTheme(spark: SparkSession, table: String, path: String,
                  zorderPartitions: Option[Int] = None): Unit = {
    val df = spark.table(table)
    val out = zorderPartitions match {
      case Some(p) if Seq("centroid_lon", "centroid_lat").forall(df.columns.contains) =>
        graft.geo.SpaceCurve.clusterForWrite(df, "centroid_lon", "centroid_lat", p)
      case Some(_) => df
      case None    => df
    }
    out.write.mode("overwrite").parquet(path)
  }

  /** Drop a cached theme view and unpersist its data (S8). */
  def dropTheme(spark: SparkSession, key: String): Unit = {
    val table = ThemeMeta.tableName(key)
    try spark.table(table).unpersist() catch { case _: Exception => () }
    spark.catalog.dropTempView(table)
  }

  /** User-visible tables: temp views minus system/helper tables (S8,
    * fts.js:116-127).
    */
  def listUserTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .map(_.name)
      .filter(t => !t.startsWith("_") && !t.startsWith("sqlite_") && !t.startsWith("fts_"))
      .sorted
}
