package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ Expression converters.
  * Spark 4 routes Column through ColumnNode (Connect compatibility);
  * `classic.ExpressionUtils` is the sanctioned classic-mode accessor
  * but is package-private, hence this one-file shim in the spark
  * namespace — the standard pattern for Spark extension libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to `Dataset.ofRows` (private[sql]): turn a hand-built
  * logical plan — e.g. a `LogicalRelation` over a custom `FileIndex` —
  * into a user-facing DataFrame. Same extension-library pattern as
  * ColumnBridge above.
  */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Eager local checkpoint that PRESERVES the child's physical
    * output partitioning (and ordering) in the resulting LogicalRDD —
    * `Dataset.localCheckpoint` pins `UnknownPartitioning`, so a table
    * deliberately repartitioned on its join/aggregate key would lose
    * exactly the exchange-elision the repartition paid for (guide
    * §2.4: operations keyed the same way share one exchange).
    * Identical rows to `df.localCheckpoint(true)`; only the
    * partitioning metadata differs — and it is the TRUE partitioning
    * of the materialized RDD (row-to-partition assignment is frozen
    * at checkpoint time), so downstream exchange elision is sound.
    */
  def localCheckpointPartitioned(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy()).localCheckpoint()
    rdd.count() // eager materialization, like localCheckpoint(true)
    // under AQE the executed plan is an AdaptiveSparkPlanExec, whose
    // own outputPartitioning is the LeafExecNode Unknown default —
    // the FINAL plan (materialized by the count above) carries the
    // real one
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the physical attrs can carry different exprIds than the analyzed
    // output (aliases re-instantiated across analyses); remap the
    // partitioning/ordering expressions positionally or the new
    // LogicalRDD advertises a partitioning over attributes it does not
    // output — and every downstream exchange stays
    val out = qe.analyzed.output
    // the remap is positional: a length or type mismatch would zip
    // into a partitioning over the wrong columns (types compare
    // ignoring nullability, which optimization may tighten)
    require(physical.output.length == out.length &&
        physical.output.zip(out).forall { case (p, l) => p.dataType.sameType(l.dataType) },
      s"localCheckpointPartitioned: physical output [${physical.output.mkString(", ")}] " +
        s"does not match analyzed output [${out.mkString(", ")}] position by position")
    val attrMap: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
        org.apache.spark.sql.catalyst.expressions.Attribute] =
      physical.output.zip(out).map { case (p, l) => p.exprId -> l }.toMap
    def remap[E <: org.apache.spark.sql.catalyst.expressions.Expression](e: E): E =
      e.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if attrMap.contains(a.exprId) => attrMap(a.exprId)
      }.asInstanceOf[E]
    val part = physical.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => remap(h)
      case _: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning |
           _: org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection =>
        // range bounds / collections don't transfer soundly — keep the
        // checkpoint but claim nothing
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(rdd.getNumPartitions)
      case other => other
    }
    val ordering = physical.outputOrdering.map(remap(_))
    classic.Dataset.ofRows(spark,
      LogicalRDD(out, rdd, part, ordering, isStreaming = false)(spark))
  }
}

/** Bridge to Spark's own Arrow serialization (`execution.arrow
  * .ArrowConverters`, private[sql]) — the exact code path PySpark's
  * `toArrow()` and collect-as-Arrow use, so the emitted batches match
  * what every Arrow consumer of Spark results already parses.
  */
object ArrowBridge {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.classic
  import org.apache.spark.sql.execution.arrow.ArrowConverters

  /** Collect a DataFrame as self-describing Arrow IPC stream chunks
    * (each chunk carries the schema + one record batch).
    */
  def toArrowBatches(df: DataFrame, maxRecordsPerBatch: Long): Array[Array[Byte]] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val tz = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    val rows = ds.queryExecution.executedPlan.executeCollect().iterator
    val chunks = ArrowConverters.toBatchWithSchemaIterator(
      rows, ds.schema, maxRecordsPerBatch, Long.MaxValue, tz,
      true, false).toArray
    if (chunks.nonEmpty) chunks
    else Array(ArrowConverters.createEmptyArrowBatch(ds.schema, tz, true, false))
  }

  /** Rebuild a DataFrame from chunks produced by `toArrowBatches` —
    * the schema travels inside the chunks.
    */
  def fromArrowBatches(spark: SparkSession, batches: Iterator[Array[Byte]]): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val (rowIter, schema) =
      ArrowConverters.fromBatchWithSchemaIterator(batches, org.apache.spark.TaskContext.get())
    val rows = rowIter.map(_.copy()).toArray // iterator reuses its row buffer
    cs.internalCreateDataFrame(cs.sparkContext.parallelize(rows.toSeq, 1), schema)
  }
}
