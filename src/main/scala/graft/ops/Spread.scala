package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Guarded input spreading for the heavy map stages (tokenize /
  * explode / hash kernels).
  *
  * A single-file local fixture arrives as ONE input partition, which
  * would serialize the heaviest map work onto one core — only then is
  * a pre-spread exchange worth paying, and it moves cheap doc rows,
  * never token/gram rows. A real scan that is already wide (at least
  * `defaultParallelism` partitions — the 100 TB case, where the scan
  * has thousands of input splits) passes through UNTOUCHED: the
  * unconditional form would full-shuffle the raw-text corpus before
  * doing any work AND collapse its parallelism down to the local core
  * count — the one cost BASELINE.md documents as unpayable at scale.
  *
  * Key choice: pass the doc-id column when downstream per-doc
  * aggregates should inherit the clustering (their exchange is then
  * free); pass no key for round-robin when nothing downstream groups
  * by doc. NEVER key on the text column itself: a duplicate-heavy
  * (pre-dedup) corpus hashes identical documents into one task,
  * recreating exactly the single-task skew the spread exists to fix.
  *
  * The guard reads the physical partition count off the planned RDD.
  * On a plain scan/filter input (every call site in this library)
  * that is planning only — no job runs. Passing a DataFrame with
  * upstream shuffles would make AQE finalize those stages eagerly to
  * answer the probe; spread raw inputs, not mid-pipeline ones.
  */
object Spread {

  /** `df` spread across `defaultParallelism` partitions iff it is
    * narrower than that; identity otherwise. Round-robin when `keys`
    * is empty, hash on `keys` otherwise.
    */
  def ifNarrow(df: DataFrame, keys: Column*): DataFrame = {
    val spread = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= spread) df
    else if (keys.isEmpty) df.repartition(spread)
    else df.repartition(spread, keys: _*)
  }

  /** [[ifNarrow]] additionally gated on the input's ESTIMATED size:
    * for a dimension-sized input (an eval set at test scale, a small
    * lookup corpus) the exchange costs more than the single-task map
    * work it would parallelize — measured +0.65 s per funnel query at
    * sf0.1 for an unconditioned eval-side spread — while at 100×
    * that same single-task explode dominates the query (curate-mix
    * 17 s vs 8 s at sf10). The optimizer's sizeInBytes estimate
    * (statistics only, no job) separates the two regimes; the 8 MB
    * threshold is far above any real eval set at test scale and far
    * below a corpus slice at production scale, so both ends are
    * decided by orders of magnitude, not estimate precision.
    */
  def ifNarrowAndBig(df: DataFrame, keys: Column*): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < (8L << 20)) df
    else ifNarrow(df, keys: _*)

  /** [[ifNarrow]] additionally gated on a JOIN PEER's estimated size
    * against the session broadcast threshold — for the cut/apply tails
    * that join a narrow corpus scan against a derived per-doc table:
    * when the peer broadcasts, the narrow side's partitioning survives
    * into the heavy post-join rebuild (the single-task trap the spread
    * exists to fix); when the peer is above the threshold the planner
    * shuffles the big side by the join key anyway, and a pre-spread
    * would move the heavy rows TWICE (measured on the synthetic sf10:
    * dedup_drop_spans q3-anchor-normalized 2.84 with an unconditional
    * spread vs 1.93 without — the span table crosses the threshold
    * there, while the line-cut table stays under it and its spread
    * remains essential: 1.18 vs 4.28). Planning-only (statistics and
    * a conf read, no job); `autoBroadcastJoinThreshold = -1` (broadcast
    * disabled) correctly disables the spread too.
    */
  def ifNarrowAndPeerBroadcastable(df: DataFrame, peer: DataFrame,
                                   keys: Column*): DataFrame = {
    val raw = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    // the conf accepts a bare (possibly negative) byte count OR a
    // size suffix; byteStringAsBytes rejects "-1"
    val thr = scala.util.Try(raw.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    if (thr > 0 &&
        peer.queryExecution.optimizedPlan.stats.sizeInBytes <= thr)
      ifNarrow(df, keys: _*)
    else df
  }
}
