package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that keep the engine
  * viable at 100 TB are asserted on the actual planned queries, not
  * assumed — filter pushdown reaches the parquet scan, spatial joins
  * hash-join on grid cells (never nested-loop over data), dimension
  * joins broadcast.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("scan filter pushes to parquet (PushedFilters non-empty)") {
    val p = plan("s1_scan_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThan(l_quantity"), "l_quantity filter should reach the scan")
  }

  test("projection prunes columns at the scan (ReadSchema is minimal)") {
    val p = plan("s1_scan_filter_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_shipdate"),
      s"scan should read only projected+filtered columns: $read")
  }

  test("dimension joins broadcast (no shuffle of nation/region)") {
    val p = plan("j_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("spatial joins are hash joins on grid cells, not nested loops over data") {
    for (q <- Seq("j1_intersect_join", "j2_within_semi", "j3_exclude_anti",
        "j5_bidirectional_ids", "j7_self_distance_pairs", "j9_line_point_distance",
        "pipeline_intersect", "pipeline_exclude", "analysis_within", "analysis_matched_b")) {
      val p = plan(q)
      val bnlj = p.linesIterator.count(l => l.contains("BroadcastNestedLoopJoin"))
      val cross = p.linesIterator.count(l => l.contains("CartesianProduct"))
      assert(cross == 0, s"$q plans a CartesianProduct")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q has no hash join")
      // grid-cell keys (plans.GridJoinRule) present in some join condition
      assert(p.contains("_graft_gx") && p.contains("_graft_gy"), s"$q lost its grid keys")
      assert(bnlj == 0, s"$q has $bnlj nested-loop joins")
    }
  }

  test("compiled spatial pipeline plans hash semi-joins from the EXISTS") {
    val p = plan("pipeline_intersect")
    assert(p.contains("LeftSemi") || p.contains("left_semi") || p.contains("Semi"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan("o3_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the relational aggregates") {
    // AQE shows codegen stages only in the finalized plan → run first
    val df = SparkEntry.queries("q1_pricing_summary")(spark, dir)
    df.collect() // count() would plan a different query; collect finalizes THIS one
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen stage marker in plan strings
    assert(p.contains("*("), p.take(1200))
    assert(p.contains("HashAggregate"))
  }

  test("already-wide inputs are not re-shuffled before tokenize (guarded spread)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = spark.sparkContext.defaultParallelism
    def exchanges(p: String): Int =
      p.linesIterator.count(_.trim.stripPrefix("+- ").startsWith("Exchange"))
    // a pre-partitioned (100 TB-shaped) input passes through the
    // guard untouched: no round-robin, no extra exchange before the
    // tokenize/explode — the only shuffle is the aggregate's own
    val wide = docs.repartition(n + 2, col("doc_id"))
    assert(graft.ops.Spread.ifNarrow(wide).rdd.getNumPartitions == n + 2,
      "guard must be an identity on an already-wide input")
    val pWide = graft.ops.Bpe.wordCounts(wide, "text")
      .queryExecution.executedPlan.toString
    assert(exchanges(pWide) - exchanges(wide.queryExecution.executedPlan.toString) == 1,
      s"wide input must pay ONLY the aggregate exchange:\n$pWide")
    assert(!pWide.toLowerCase.contains("roundrobin"),
      "guarded spread must not round-robin a wide input")
    // a single-partition local fixture still spreads (round-robin,
    // never hash-on-text: duplicate docs must not collapse to one task)
    val pNarrow = graft.ops.Bpe.wordCounts(docs.coalesce(1), "text")
      .queryExecution.executedPlan.toString
    assert(pNarrow.toLowerCase.contains("roundrobin"),
      s"narrow input must spread round-robin:\n$pNarrow")
  }

  test("bench queries produce no driver-side collects in their plans") {
    // every declared query is a DataFrame — materialization strategy
    // stays with the caller; spot-check that heavy ops build lazily
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
    assert(df.queryExecution.logical != null) // planning alone must not execute jobs
  }

  test("bloom decontamination prefilters the corpus gram stream before any join") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val got = graft.ops.Decontaminate.overlapBloom(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"), "doc_id", "text", n = 3)
    got.collect() // resolve the adaptive plan
    val p = got.queryExecution.executedPlan.toString
    // the might_contain predicate must sit in a Filter, and the
    // candidate→gram join must be an equi hash join, never a
    // nested loop over corpus grams
    assert(p.contains("might_contain"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    val filterLine = p.linesIterator.find(l =>
      l.contains("Filter") && l.contains("might_contain"))
    assert(filterLine.isDefined,
      "bloom probe must run as a Filter (map-side), not inside a join")
  }

  test("incremental dedup joins are equi, never nested-loop over the index") {
    for (q <- Seq("dedup_incremental", "dedup_spans_incremental")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct")
      // the only BNLJ allowed anywhere in this repo's plans is a
      // broadcast one-row attach; index probes must be hash joins
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q has no hash join")
    }
  }

  test("pmi top-k plans TakeOrderedAndProject (no global sort of the bigram table)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextAnalysis.pmiCollocations(docs, "text", minCount = 2, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("snake shards / interleave order: corpus rows never cross a global-sort exchange") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // the only unpartitioned window in either plan runs over the
    // bounded offsets table (#bands-or-keys × 256 count rows), so the
    // corpus-side sorts must all be range-free local window sorts:
    // no rangepartitioning exchange may appear anywhere
    val pSnake = graft.ops.Sampling.snakeShards(docs, "doc_id", "n_chars", 4)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!pSnake.contains("rangepartitioning"),
      "snakeShards must not range-shuffle (global-sort) the corpus")
    val w = spark.createDataFrame(
      Seq(("src0", 1.0), ("src1", 2.0))).toDF("source", "q")
    val pIl = graft.ops.Sampling.interleaveOrder(docs, "doc_id", "source", w, "q")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!pIl.contains("rangepartitioning"),
      "interleaveOrder must not range-shuffle (global-sort) the corpus")
    assert(pIl.contains("broadcast"), "weight join must broadcast")
  }
}
