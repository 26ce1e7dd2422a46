package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed logistic-regression quality classifier — the
  * model-based filter half of an LLM data-curation pipeline (a
  * fastText-style linear classifier over hashed bag-of-words
  * features, the shape CCNet/GPT-3-style "looks like the reference
  * corpus" filters use; reference scope: extension surface, the
  * reference engine has no ML ops).
  *
  * Scale design: the corpus is featurized ONCE into a
  * (doc, bucket, count) class table (localCheckpoint materialization
  * point, doc_id-partitioned); each full-batch gradient-descent step
  * is then two hash aggregates over that table — a per-doc margin
  * (exchange-free on the preserved doc_id partitioning) and a
  * per-bucket gradient (≤dims rows) — with the weight vector living
  * as a ≤dims-element driver array embedded as plan literals (the
  * k-means/BPE trainer precedent: bounded driver state; scoring is
  * map-side + one aggregate, never a weights shuffle).
  *
  * Float parity (mirrors [[TextAnalysis.lmPerplexity]]): every
  * cross-row sum rounds its per-row contribution to 12 dp and
  * accumulates as DECIMAL(38,15) — exact and order-independent, so
  * Spark's partial-aggregation order cannot change any sum — and
  * each weight update re-rounds to 12 dp. Spark and the
  * unrolled-CTE DuckDB oracle therefore walk identical weight
  * trajectories step for step.
  */
object Classifier {

  private def dec(c: Column): Column = c.cast("decimal(38,15)")

  private def r12(x: Double): Double =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Hashed bag-of-words class table: (doc_id, y, n, b, c) — one row
    * per (document, feature bucket), `n` the document token count,
    * `c` the bucket count, `y` the 0/1 training label. Buckets are
    * the engine-portable 60-bit md5-prefix token hash mod `dims`
    * (the DSIR bucket scheme). Zero-token documents carry no
    * features and are excluded from the training set.
    */
  def featurize(df: DataFrame, idCol: String, textCol: String,
                label: Column, dims: Int): DataFrame = {
    // rlike guard masks the kernel's join-all fallback on token-free
    // text (see dsirLogWeights)
    val hs = when(lower(col(textCol)).rlike("[a-z0-9]"),
        graft.functions.TextExpressions.shingle_hashes(col(textCol), 1))
      .otherwise(array().cast("array<long>"))
    Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"), label.cast("double").as("y"), hs.as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("doc_id"), col("y"),
        size(col("hs")).cast("long").as("n"), explode(col("hs")).as("h"))
      .select(col("doc_id"), col("y"), col("n"),
        (col("h") % dims).as("b"))
      .groupBy("doc_id", "y", "n", "b").agg(count(lit(1)).as("c"))
      // land the checkpoint hash-partitioned on doc_id ALONE (the
      // groupBy leaves it on the full key tuple, which satisfies no
      // downstream distribution): every GD step's margin aggregate
      // (groupBy doc_id,y), the gradient's err⋈class join, and the
      // scorer's margin all cluster on doc_id, so this one exchange —
      // paid once, inside the featurize job — replaces one exchange
      // per aggregate per step (guide §2.4: operations keyed the same
      // way share one exchange). The partition count is EXPLICIT
      // (session shuffle partitions — the value those per-step
      // exchanges would have used): a column-only repartition gets
      // AQE-coalesced, and the coalesced read reports
      // UnknownPartitioning, which the checkpoint would pin — losing
      // the co-partitioning this exchange exists to provide. Decimal-
      // exact sums make every aggregation order identical, so results
      // are bit-equal.
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt,
        col("doc_id"))
      .transform(org.apache.spark.sql.graft.DatasetBridge.localCheckpointPartitioned)
  }

  /** Per-doc margin under a literal weight vector: Σ_b (c/n)·w_b
    * (12-dp-rounded contributions, decimal-exact sum) + bias. */
  private def margins(db: DataFrame, w: Array[Double], bias: Double): DataFrame = {
    val wb = element_at(lit(w), (col("b") + 1).cast("int"))
    val contrib = dec(round(col("c") / col("n") * wb, 12))
    db.groupBy("doc_id", "y")
      .agg((sum(contrib).cast("double") + lit(bias)).as("marg"))
  }

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** `steps` full-batch GD steps from zero weights; returns the
    * (weights, bias) pair. Delegates to [[trainWeightsWithBuckets]].
    */
  def trainWeights(db: DataFrame, dims: Int, steps: Int, lr: Double): (Array[Double], Double) = {
    val (w, bias, _) = trainWeightsWithBuckets(db, dims, steps, lr)
    (w, bias)
  }

  /** `steps` full-batch GD steps from zero weights; returns
    * (weights, bias, present buckets). ONE driver job per step: the
    * per-doc error table is NOT checkpointed — the margin aggregate
    * runs exactly once inside the gradient job's plan, the bias/count
    * aggregate rides the SAME job as an `observe()` metric on the
    * error table (a CollectMetrics node: every error row passes it
    * once on its way into the gradient join, so the 1-row bias
    * aggregate costs no extra pass and no extra job), and only the
    * ≤dims-row gradient collects. The r14 shape paid THREE sequential
    * driver jobs per step (eager err checkpoint + gradient collect +
    * bias collect) — at local-mode job floors that was most of the
    * trainer's wall. The decimal-exact 12-dp rounding contract is
    * unchanged expression for expression, so the weight trajectory is
    * bit-identical to the unfolded form (and to the unrolled-CTE
    * DuckDB oracle).
    *
    * The returned bucket set is the last gradient's key set — exactly
    * `db.select("b").distinct()` (every doc carries an error row and
    * every (doc, b) joins it), collected for free with the final
    * step's gradient instead of as its own job.
    */
  def trainWeightsWithBuckets(db: DataFrame, dims: Int, steps: Int,
                              lr: Double): (Array[Double], Double, Array[Long]) = {
    // steps == 0 would return an empty `present`, and weightsDF(Some)
    // would then emit only the bias row while the None path emits
    // every bucket — the scaladoc's "identical by construction" claim
    // holds only once a gradient has collected
    require(steps >= 1, s"trainWeightsWithBuckets: steps must be >= 1: $steps")
    val w = Array.fill(dims)(0.0)
    var bias = 0.0
    var present = Array.empty[Long]
    for (step <- 1 to steps) {
      val m = margins(db, w, bias)
      // observe() rides a CollectMetrics accumulator, which can
      // double-count rows under task RETRIES or speculative execution
      // — exact in local mode (the bench/oracle harness) and on any
      // cluster with speculation off; a speculative cluster trainer
      // should prefer the collect()-based bias aggregate (r14 shape)
      // or disable speculation for this job group
      val obs = org.apache.spark.sql.Observation(s"gd_step_$step")
      val e = m.select(col("doc_id"),
          round(col("y") - sigmoid(col("marg")), 12).as("err"))
        .observe(obs, sum(dec(col("err"))).as("sb"), count(lit(1)).as("nd"))
      val gRows = e.join(db, "doc_id")
        .groupBy("b")
        .agg(sum(dec(round(col("err") * col("c") / col("n"), 12))).as("sg"))
        .collect()
      val metrics = obs.get
      // empty training set: the optimizer can collapse the whole plan
      // to an empty relation, ELIMINATING the CollectMetrics node —
      // the metrics map is then empty (not (null, 0)); both shapes
      // mean "no docs", keep the zero weights
      val nd = metrics.get("nd").map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)
      if (nd > 0) {
        gRows.foreach { r =>
          val b = r.getLong(0).toInt
          val g = r.getDecimal(1).doubleValue() / nd
          w(b) = r12(w(b) + lr * g)
        }
        bias = r12(bias + lr *
          (metrics("sb").asInstanceOf[java.math.BigDecimal].doubleValue() / nd))
      }
      present = gRows.map(_.getLong(0))
    }
    (w, bias, present.sorted)
  }

  /** Trained weights as a (feature, weight) table — only buckets that
    * occur in the corpus (matching the oracle's gradient key set),
    * plus the bias as feature −1. Pass the `present` array from
    * [[trainWeightsWithBuckets]] to skip the distinct-bucket job; the
    * two derivations are identical by construction (the gradient
    * groups over every (doc, b) row of the class table).
    */
  def weightsDF(spark: SparkSession, db: DataFrame,
                w: Array[Double], bias: Double,
                present: Option[Array[Long]] = None): DataFrame = {
    import spark.implicits._
    val ps = present.getOrElse(
      db.select("b").distinct().collect().map(_.getLong(0)).sorted)
    (ps.map(b => (b, w(b.toInt))) :+ (-1L, bias)).toSeq
      .toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
  }

  /** Score the class table under trained weights: per-doc probability
    * (6-dp) and the ≥0.5 prediction. Map-side margin aggregate only —
    * the model rides in the plan as literals.
    */
  def score(db: DataFrame, w: Array[Double], bias: Double): DataFrame = {
    val prob = round(sigmoid(col("marg")), 6)
    margins(db, w, bias)
      .select(col("doc_id"), col("y").as("label"),
        prob.as("prob"), (prob >= 0.5).as("pred"))
  }

  /** Reliability-diagram + ranking-metric report over [[score]]'s
    * output — the "is the quality filter calibrated, and does it
    * rank?" evaluation run before a classifier gates a corpus. One
    * row per probability bucket (`bucket`, `n`, `avg_prob`,
    * `pos_rate`: a calibrated model has pos_rate ≈ avg_prob per
    * bucket) with the corpus-level `auc` (tie-corrected Mann–Whitney
    * rank sum), `brier` (mean squared probability error) and
    * `accuracy` (@0.5) attached as constant columns. Output columns,
    * in order: `bucket`, `n`, `avg_prob`, `pos_rate`, `auc`, `brier`,
    * `accuracy`.
    *
    * 100 TB design: AUC needs every row's rank but NOT a global sort
    * — probabilities are 6-dp-rounded by [[score]], so ranks
    * aggregate per DISTINCT probability (map-side combine to
    * ≤10⁶+1 rows), average tie ranks come from a window over that
    * small table, and the positive rank mass collapses to one row.
    * The scored table is pinned once (localCheckpoint) so the three
    * aggregate branches don't re-run the margin aggregate. Float
    * parity: rank sums are exact multiples of ½ accumulated as
    * DECIMAL(38,15); avg/brier contributions round to 12 dp first
    * (the module rule); outputs at 6 dp. Requires both classes
    * present (AUC is undefined otherwise).
    */
  def evalReport(scored: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    import org.apache.spark.sql.expressions.Window
    val sc = scored.select(col("doc_id"), col("label").cast("double").as("y"),
        col("prob").cast("double").as("prob"))
      .localCheckpoint(true)
    val perB = sc
      .withColumn("bucket",
        least(floor(col("prob") * buckets), lit(buckets - 1)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(round(col("prob"), 12))).cast("double") /
          count(lit(1)), 6).as("avg_prob"),
        round(sum(col("y")) / count(lit(1)), 6).as("pos_rate"))
    val wr = Window.orderBy(col("prob"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = sc.groupBy("prob")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
      .withColumn("cumb", coalesce(sum(col("cnt")).over(wr), lit(0L)))
    // accuracy and brier fold over `ranked` instead of re-scanning sc
    // (one broadcast subtree and one corpus-scale aggregate fewer):
    // within one distinct-prob group every row shares its per-row
    // contribution, so the group total is that value times an exact
    // integer count —
    //   correct@0.5: prob >= 0.5 groups contribute `pos`, the rest
    //     `cnt - pos` (y is exactly 0/1, so pos IS the y=1 count);
    //   brier: y=1 rows contribute round((prob-1)², 12), y=0 rows
    //     round(prob², 12); DECIMAL(13,12) × DECIMAL(19,0) multiplies
    //     exactly (precision 33 ≤ 38, scale 12 — no precision-loss
    //     truncation), so the sum equals the per-row decimal sum.
    val d1312 = "decimal(13,12)"
    val d190 = "decimal(19,0)"
    val br1 = round((col("prob") - 1.0) * (col("prob") - 1.0), 12).cast(d1312)
    val br0 = round(col("prob") * col("prob"), 12).cast(d1312)
    val statsRow = ranked
      .agg(sum(dec(col("pos") * (col("cumb") + (col("cnt") + 1) / lit(2.0))))
          .cast("double").as("srp"),
        sum(col("pos")).as("n1"), sum(col("cnt")).cast("double").as("nn"),
        sum(when(col("prob") >= 0.5, col("pos"))
          .otherwise(col("cnt") - col("pos")).cast("double")).as("_corr"),
        sum(br1 * col("pos").cast(d190) +
          br0 * (col("cnt") - col("pos")).cast(d190)).as("_bsum"))
      .select(round((col("srp") - col("n1") * (col("n1") + 1) / lit(2.0)) /
          (col("n1") * (col("nn") - col("n1"))), 6).as("auc"),
        round(col("_bsum").cast("double") / col("nn"), 6).as("brier"),
        round(col("_corr") / col("nn"), 6).as("accuracy"))
    perB.crossJoin(broadcast(statsRow))
  }

  /** Per-key z-score ensemble of integer quality signals — the
    * DataComp/Dolma-style blend of heterogeneous filters into ONE
    * scalar: each signal standardizes within its `keyCol` slice
    * (so "long for English" and "long for code" normalize
    * separately) and the blend is their unweighted mean. Signals
    * must be integer-valued columns (token counts, distinct-token
    * counts, char lengths, rule-violation counts): per-key Σx and
    * Σx² then run as exact DECIMAL(38,0) sums — order-independent
    * and overflow-free at 10¹² rows × 10⁸-squared magnitudes — and
    * μ, σ, z and the blend are a handful of IEEE-double ops any
    * engine replays bit-identically. Zero-variance signals
    * contribute z = 0. The stats table is #keys-sized and
    * broadcast-joins back; the corpus never shuffles.
    */
  def zscoreBlend(df: DataFrame, keyCol: String, signalCols: Seq[String],
                  blendCol: String = "quality_blend"): DataFrame = {
    require(signalCols.nonEmpty, "zscoreBlend: no signal columns")
    require(!df.columns.contains(blendCol),
      s"zscoreBlend: input already has a '$blendCol' column")
    val internal = "_zk" :: "_n" :: signalCols.flatMap(c => Seq(s"_s_$c", s"_ss_$c")).toList
    val clash = internal.filter(df.columns.contains)
    require(clash.isEmpty, s"zscoreBlend: input columns collide with internals: $clash")
    val di = "decimal(38,0)"
    val aggs = signalCols.flatMap { c =>
      Seq(sum(col(c).cast(di)).as(s"_s_$c"),
        // square in DECIMAL, not LONG: a 10¹⁰-magnitude signal would
        // overflow the 63-bit product before the cast
        sum(col(c).cast(di) * col(c).cast(di)).as(s"_ss_$c"))
    } :+ count(lit(1)).as("_n")
    val stats = df.groupBy(col(keyCol).as("_zk")).agg(aggs.head, aggs.tail: _*)
    val joined = df.join(broadcast(stats), col(keyCol) === col("_zk"))
    val n = col("_n").cast("double")
    val zs = signalCols.map { c =>
      val mu = col(s"_s_$c").cast("double") / n
      val sd = sqrt(col(s"_ss_$c").cast("double") / n - mu * mu)
      when(sd > 0, (col(c).cast("double") - mu) / sd).otherwise(lit(0.0))
    }
    joined
      .withColumn(blendCol, round(zs.reduce(_ + _) / lit(signalCols.size.toDouble), 6))
      .drop("_zk" :: "_n" :: signalCols.flatMap(c => Seq(s"_s_$c", s"_ss_$c")).toList: _*)
  }
}
