package graft.fts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge

/** Full-text index: a per-table term-statistics DataFrame registered
  * as `fts_main_<table>`, replacing DuckDB's FTS extension index
  * (reference: PRAGMA create_fts_index — fts.js:51-68).
  *
  * Schema: (term, id, tf, doclen, df, ndocs, avgdl, idf) — everything
  * BM25 needs, precomputed so a search is a broadcast-able semi-join
  * + group-by instead of a full-corpus scan.
  *
  * Scale: one plan, and a size decision on where it runs. Over a
  * driver-held table (a capped area load) `plans.LocalEvalRule` folds
  * the whole build on the driver into a driver-held index, with no
  * Spark job, as the reference indexes its small in-process tables;
  * over any other table it runs as two shuffles (terms→tf,
  * id→doclen) and a broadcast of the 1-row corpus stats,
  * checkpointed.
  */
object FtsIndex {

  final val K1 = 1.2
  final val B = 0.75

  /** Tokenizer shared by indexing and query parsing: lowercase, split
    * on non-alphanumeric runs. (DuckDB's FTS defaults additionally
    * apply porter stemming; we keep exact-token semantics and document
    * the divergence — rank order on simple queries matches.)
    */
  def tokenize(s: String): Seq[String] =
    Option(s).getOrElse("").toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)

  def indexName(table: String): String = s"fts_main_$table"

  /** True iff `table` has an index. An index is only ever a temp view,
    * so this asks the session catalog's temp views directly: a
    * `spark.catalog.tableExists` lookup also resolves through the
    * external catalog and costs milliseconds per call.
    */
  def hasIndex(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.getTempView(indexName(table)).isDefined

  /** Tables indexed with Porter stemming (query terms must be stemmed
    * the same way at search time).
    */
  private val stemmed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def isStemmed(table: String): Boolean = stemmed.contains(table)

  /** Build (or rebuild) the FTS index view for `table`, which must
    * expose (id, search_name). `stem = true` applies the Porter
    * stemmer per token — DuckDB FTS's default behavior
    * (PRAGMA create_fts_index stemmer='porter').
    *
    * The build is one plan, `idf(distributedStats(...))`. Over a
    * driver-held table (every capped area load) `plans.LocalEvalRule`
    * optimizes it to a `LocalRelation`, evaluated on the driver with
    * Spark's interpreted expressions, and that relation is registered
    * as the index, with no Spark job; otherwise the plan runs on Spark
    * and is checkpointed. Either way the rows are the ones Spark's
    * execution of the same plan returns.
    */
  def build(spark: SparkSession, table: String, stem: Boolean = false): DataFrame = {
    val docs = spark.table(table)
      .select(col("id").cast("string").as("id"),
        split(lower(coalesce(col("search_name"), lit(""))), "[^a-z0-9]+").as("tokens"))
    if (stem) stemmed.add(table) else stemmed.remove(table)

    val stats = idf(distributedStats(docs, stem))
    // register the folded rows, so a search does not evaluate them again
    val index = DatasetBridge.localRelation(stats) match {
      case Some(local) => DatasetBridge.ofRows(spark, local)
      case None => stats.localCheckpoint(true)
    }
    index.createOrReplaceTempView(indexName(table))
    index
  }

  /** BM25's inverse document frequency, appended to the statistics. */
  private def idf(stats: DataFrame): DataFrame =
    stats.withColumn("idf",
      log(lit(1.0) + (col("ndocs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))

  /** (term, id, tf, doclen, df, ndocs, avgdl): two shuffles
    * (terms→tf, id→doclen) and a broadcast of the one-row corpus
    * stats when Spark runs it. The caller materializes a distributed
    * index via
    * localCheckpoint, not persist(): an FTS index is a long-lived
    * artifact (DuckDB's PRAGMA create_fts_index materializes too), and
    * checkpoint blocks live at the RDD level, so a catalog-cache sweep
    * between queries cannot silently turn every later search into a
    * full index rebuild. On a multi-executor cluster, persist the
    * index to storage (parquet) instead for durability —
    * localCheckpoint trades lineage for speed.
    */
  private def distributedStats(docs: DataFrame, stem: Boolean): DataFrame = {
    val rawTerms = docs
      .select(col("id"), explode(col("tokens")).as("term"))
      .where(length(col("term")) > 0)
    val terms =
      if (stem) rawTerms.withColumn("term",
        graft.functions.TextExpressions.porter_stem(col("term")))
      else rawTerms

    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val doclen = terms.groupBy("id").agg(count(lit(1)).as("doclen"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // exact long sum + single divide (not avg()) → deterministic
    // across partitionings and bit-identical to the DuckDB oracle
    val stats = doclen.agg(
      count(lit(1)).as("ndocs"),
      (sum(col("doclen")).cast("double") / count(lit(1))).as("avgdl"))
    tf.join(doclen, "id")
      .join(dft, "term")
      .crossJoin(broadcast(stats))
  }

  /** Build only when absent (memoized path for repeated queries over
    * an unchanged table — rebuild explicitly via `build` when the
    * table contents changed).
    */
  def ensure(spark: SparkSession, table: String): Unit =
    if (!hasIndex(spark, table)) { build(spark, table); () }

  def drop(spark: SparkSession, table: String): Unit = {
    stemmed.remove(table)
    if (hasIndex(spark, table)) {
      try spark.table(indexName(table)).unpersist() catch { case _: Exception => () }
      spark.catalog.dropTempView(indexName(table))
    }
  }
}
