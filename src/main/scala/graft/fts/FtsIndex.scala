package graft.fts

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Full-text index: a per-table term-statistics DataFrame registered
  * as `fts_main_<table>`, replacing DuckDB's FTS extension index
  * (reference: PRAGMA create_fts_index — fts.js:51-68).
  *
  * Schema: (term, id, tf, doclen, df, ndocs, avgdl, idf) — everything
  * BM25 needs, precomputed so a search is a broadcast-able semi-join
  * + group-by instead of a full-corpus scan.
  *
  * Scale: the build is a size decision. A driver-held table (a capped
  * area load) is indexed on the driver into a driver-held index, with
  * no Spark job, as the reference indexes its small in-process
  * tables; any other table gets two shuffles (terms→tf, id→doclen)
  * and a broadcast of the 1-row corpus stats, checkpointed.
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

  def hasIndex(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(indexName(table))

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
    * The build is a size decision, like the load it indexes: over a
    * driver-held table (its optimized plan is a `LocalRelation`, as
    * every capped area load is) the term statistics are counted on
    * the driver and the index is itself a `LocalRelation`, with no
    * Spark job; any other table gets the distributed build. Both
    * paths take their tokens from the same Spark expressions and share
    * the `idf` column, so they build the same rows.
    */
  def build(spark: SparkSession, table: String, stem: Boolean = false): DataFrame = {
    val docs = spark.table(table)
      .select(col("id").cast("string").as("id"),
        split(lower(coalesce(col("search_name"), lit(""))), "[^a-z0-9]+").as("tokens"))
    if (stem) stemmed.add(table) else stemmed.remove(table)

    val index = DatasetBridge.localRelation(docs) match {
      case Some(local) =>
        // the idf projection folds on the driver too; register the
        // folded rows, so a search does not evaluate it again
        DatasetBridge.foldLocal(idf(DatasetBridge.ofRows(spark, localStats(local, stem))))
      case None => idf(distributedStats(docs, stem)).localCheckpoint(true)
    }
    index.createOrReplaceTempView(indexName(table))
    index
  }

  /** BM25's inverse document frequency, appended to the statistics. */
  private def idf(stats: DataFrame): DataFrame =
    stats.withColumn("idf",
      log(lit(1.0) + (col("ndocs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))

  /** (term, id, tf, doclen, df, ndocs, avgdl) counted by Spark: two
    * shuffles (terms→tf, id→doclen) and a broadcast of the one-row
    * corpus stats. The caller materializes the index via
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

  /** The same statistics as [[distributedStats]], counted on the
    * driver over the (id, tokens) rows of a local relation. As in the
    * Spark path, a NULL id is a document of its own for `df`, `ndocs`
    * and `avgdl` but has no index rows (the inner join on id drops it).
    */
  private def localStats(docs: LocalRelation, stem: Boolean): LocalRelation = {
    val tf = mutable.HashMap.empty[(UTF8String, UTF8String), Long]
    val doclen = mutable.HashMap.empty[UTF8String, Long]
    docs.data.foreach { row =>
      val id = if (row.isNullAt(0)) null else row.getUTF8String(0)
      val tokens = row.getArray(1)
      var i = 0
      while (i < tokens.numElements()) {
        val raw = tokens.getUTF8String(i)
        if (raw.numBytes > 0) {
          val term = if (stem) UTF8String.fromString(Porter.stem(raw.toString)) else raw
          tf.updateWith((id, term))(n => Some(n.getOrElse(0L) + 1))
          doclen.updateWith(id)(n => Some(n.getOrElse(0L) + 1))
        }
        i += 1
      }
    }
    val df = mutable.HashMap.empty[UTF8String, Long]
    tf.keysIterator.foreach { case (_, term) => df.updateWith(term)(n => Some(n.getOrElse(0L) + 1)) }
    // exact long sum + single divide, as in the Spark path
    val ndocs = doclen.size.toLong
    val avgdl = doclen.valuesIterator.sum.toDouble / ndocs
    val rows = tf.iterator.collect { case ((id, term), n) if id != null =>
      InternalRow(term, id, n, doclen(id), df(term), ndocs, avgdl)
    }.toSeq
    val Seq(idAttr, tokensAttr) = docs.output
    LocalRelation(Seq(
      AttributeReference("term", StringType,
        tokensAttr.dataType.asInstanceOf[ArrayType].containsNull)(),
      AttributeReference("id", StringType, idAttr.nullable)(),
      AttributeReference("tf", LongType, nullable = false)(),
      AttributeReference("doclen", LongType, nullable = false)(),
      AttributeReference("df", LongType, nullable = false)(),
      AttributeReference("ndocs", LongType, nullable = false)(),
      AttributeReference("avgdl", DoubleType)()), rows)
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
