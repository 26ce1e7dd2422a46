package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-overlap join: pairs of rows whose [start, end] ranges
  * intersect (inclusive ends), optionally also matching on equi keys.
  * DuckDB plans the raw inequality predicate with its IEJoin; Spark
  * would fall back to BroadcastNestedLoopJoin — so the ranges are
  * bucketized instead: each interval explodes to the coarse buckets it
  * covers, buckets equi-join (hash, shuffled on the bucket and keys),
  * the true overlap predicate refines, and a dedup on pre-explode row
  * ids collapses the multi-bucket replicas (only them — duplicate
  * input rows keep IEJoin's output multiplicity). The same
  * grid-prefilter shape as the spatial GridJoinRule, in one dimension.
  *
  * 100 TB design: the shuffle carries (bucket, keys) hash partitions —
  * no pair enumeration beyond co-bucketed candidates. `bucket` trades
  * replication (intervals spanning many buckets) against candidate
  * density (too-coarse buckets co-locate non-overlapping intervals);
  * set it near the typical interval length. A bucket holding a hot
  * spot splits under AQE skew handling like any hash join.
  */
object IntervalJoin {

  /** Explode an interval to the bucket ids it covers. */
  private def buckets(start: Column, end: Column, bucket: Long): Column =
    sequence(floor(start / bucket).cast("long"), floor(end / bucket).cast("long"))

  def overlapJoin(left: DataFrame, right: DataFrame,
                  lStart: String, lEnd: String,
                  rStart: String, rEnd: String,
                  keys: Seq[String] = Nil,
                  bucket: Long = 3600000000L): DataFrame = {
    require(bucket > 0, "bucket width must be positive")
    val overlapCols = left.columns.toSet.intersect(right.columns.toSet) -- keys
    require(overlapCols.isEmpty,
      s"overlapJoin: non-key columns present on both sides: ${overlapCols.mkString(", ")}")
    // row ids BEFORE the explode: the multi-bucket replicas of one
    // input pair share an id pair, so deduping on (id, id) collapses
    // exactly the replication — genuinely duplicate input rows keep
    // their join multiplicity (as DuckDB's IEJoin emits them), and
    // non-orderable payload columns (MAP) never enter a comparison
    val l = left.withColumn("__lid", monotonically_increasing_id())
      .withColumn("__bkt", explode(buckets(col(lStart), col(lEnd), bucket)))
    val r = right.withColumn("__rid", monotonically_increasing_id())
      .withColumn("__bkt", explode(buckets(col(rStart), col(rEnd), bucket)))
    l.join(r, Seq("__bkt") ++ keys)
      .where(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .dropDuplicates("__lid", "__rid")
      .drop("__bkt", "__lid", "__rid")
  }
}
