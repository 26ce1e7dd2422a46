package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand()`-based sampling is non-reproducible across runs, retries
  * and engines; these operators derive the keep/drop decision from an
  * md5 hash of the row's id, so a sample is a pure map-side filter —
  * no shuffle, no state, bit-identical on every engine and every
  * re-run, and stable under repartitioning (the properties a 100 TB
  * dataset-curation pipeline needs for auditable subsets).
  *
  * Portability trick: rather than converting the hash to a number
  * (hex→int builtins differ across engines), the fraction is converted
  * ONCE to a fixed-width 15-hex-char threshold and compared as a
  * string — lexicographic order on fixed-width lowercase hex equals
  * numeric order, and md5 hex is identical everywhere.
  */
object Sampling {

  /** 60-bit uniform hash of the id as a fixed-width hex string. */
  def hashKey(id: Column): Column = substring(md5(id.cast("string")), 1, 15)

  /** `fraction` ∈ [0,1] as the equivalent 15-hex-char cutoff. */
  def thresholdHex(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of [0,1]: $fraction")
    val max = 1L << 60 // 16^15
    val cut = math.min(max, math.round(fraction * max.toDouble))
    if (cut >= max) "g" // > every hex char — keep all
    else f"$cut%015x"
  }

  /** Keep each row independently with probability `fraction`,
    * deterministically in its id.
    */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.where(hashKey(col(idCol)) < lit(thresholdHex(fraction)))

  /** Per-stratum sampling rates (e.g. downsample boilerplate-heavy
    * sources, keep rare languages whole): rows in strata missing from
    * `fractions` keep `defaultFraction`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 1.0): DataFrame = {
    val cutoff = fractions.foldLeft(lit(thresholdHex(defaultFraction))) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(thresholdHex(f))).otherwise(acc)
    }
    df.where(hashKey(col(idCol)) < cutoff)
  }

  /** Disjoint deterministic train/val/test assignment: `splits` are
    * (label, fraction) pairs partitioning [0,1] by cumulative hash
    * threshold; any remainder falls to `restLabel`. Every row gets
    * exactly one label, stable across runs/engines/repartitions —
    * a pure map-side CASE, no shuffle, so splitting a 100 TB corpus
    * costs one scan and the split column prunes like any other.
    */
  def splitAssign(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1),
                  restLabel: String = "test",
                  splitCol: String = "split"): DataFrame = {
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-12, s"split fractions sum to $total > 1")
    val key = hashKey(col(idCol))
    // CASE over cumulative upper cutoffs, narrowest first — the first
    // matching WHEN wins, which is exactly the [0,c1),[c1,c2),… bands
    val cums = splits.scanLeft(0.0) { case (c, (_, f)) => c + f }.tail
    val cased = splits.zip(cums).foldRight(lit(restLabel): Column) {
      case (((label, _), hi), els) =>
        when(key < lit(thresholdHex(hi)), lit(label)).otherwise(els)
    }
    df.withColumn(splitCol, cased)
  }

  /** Leakage-safe split: like [[splitAssign]], but rows connected by
    * `pairs` (near-duplicate edges from any Dedup pair generator) are
    * hashed on their duplicate-CLUSTER id, so a near-duplicate family
    * can never straddle train/test — the eval-leakage failure mode a
    * per-document hash split has by construction (a doc and its 99%
    * twin land in different splits with probability 2·p·(1−p)).
    * Rows in no pair keep their own id as the cluster. Adds
    * `cluster_id` and `splitCol`.
    *
    * 100 TB design: cluster assignment is [[Components]]' O(log n)
    * join rounds over the (already-blocked) edge set; the assignment
    * join is a plain equi-join on the id, and the split itself stays
    * a map-side CASE over md5(cluster_id).
    */
  def splitAssignByCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                           aCol: String = "id_a", bCol: String = "id_b",
                           splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1),
                           restLabel: String = "test",
                           splitCol: String = "split"): DataFrame = {
    // the two output columns must not silently overwrite same-named
    // input columns (the internal _sabc_lbl alias gets the same care)
    require(!df.columns.contains("cluster_id"),
      "splitAssignByCluster adds a 'cluster_id' column; the input already has one")
    require(!df.columns.contains(splitCol),
      s"splitAssignByCluster adds a '$splitCol' column; the input already has one")
    // internal alias for the component label: a bare "cluster" would
    // collide (ambiguous reference) with any same-named input column
    val comp = Components.connectedComponents(pairs, aCol, bCol)
      .select(col("node").as(idCol), col("cluster").as("_sabc_lbl"))
    val clustered = df.join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("_sabc_lbl"), col(idCol)))
      .drop("_sabc_lbl")
    splitAssign(clustered, "cluster_id", splits, restLabel, splitCol)
  }

  /** Deterministic hash-ordered running token total per key group,
    * added as `_cum_before` (tokens strictly before this row in the
    * (hashKey, id) order) — the primitive token-budget sampling and
    * sequence packing share.
    *
    * 100 TB design: a single per-key window would sort every row of a
    * hot key in one task. This is the classic two-level distributed
    * prefix sum instead: the first 2 hex chars of the id-hash split
    * each key into 256 ORDERED buckets (the bucket is a prefix of the
    * sort key, so global hash order = (bucket, hash) order); per-
    * bucket token sums cumulate in a ≤256-row window per key, and the
    * within-bucket running sum — a window bounded at ~1/256 of the
    * key — adds the bucket offset back via a (key, bucket) equi-join
    * on the tiny offset table (AQE broadcasts it). No task ever sorts
    * more than a bucket.
    */
  private def withCumBefore(df: DataFrame, idCol: String, tokensCol: String,
                            keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCs = keyCols.map(col)
    val withB = df
      .withColumn("_h", hashKey(col(idCol)))
      .withColumn("_b", substring(col("_h"), 1, 2))
    val wOff = Window.partitionBy(keyCs: _*).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB
      .groupBy(keyCs :+ col("_b"): _*)
      .agg(sum(col(tokensCol)).as("_bt"))
      .withColumn("_off", coalesce(sum(col("_bt")).over(wOff), lit(0L)))
      .drop("_bt")
    val wIn = Window.partitionBy(keyCs :+ col("_b"): _*)
      .orderBy(col("_h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withB.join(offs, keyCols :+ "_b")
      .withColumn("_cum_before",
        col("_off") + coalesce(sum(col(tokensCol)).over(wIn), lit(0L)))
      .drop("_h", "_b", "_off")
  }

  /** Token-budget sampling: keep documents, in deterministic id-hash
    * order, until `budget` tokens are reached per key group (the
    * "take N tokens per domain/language" selection every
    * mixture-weighted pretraining recipe applies). A row is kept when
    * the running total BEFORE it is still under the budget, so a
    * positive budget always yields at least one row per key and the
    * last kept row may overshoot (the standard fill rule; filter on
    * a tokens column cap first if hard ceilings matter). Empty
    * `keyCols` = one global budget. Deterministic across
    * runs/engines/repartitioning, like every sampler here.
    */
  def sampleTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                        budget: Long, keyCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    withCumBefore(df, idCol, tokensCol, keyCols)
      .where(col("_cum_before") < budget)
      .drop("_cum_before")
  }

  /** Concat-and-split sequence packing: lay the corpus's token stream
    * end-to-end in deterministic id-hash order (per key group — pack
    * within shards, the standard practice) and cut it into fixed
    * `seqLen`-token training sequences. Each document is annotated
    * with where it lands: `seq_id` (the sequence its first token
    * falls in), `seq_offset` (position of that token within the
    * sequence) and `n_seqs` (how many sequences it spans) — the
    * placement map a tokenize-and-pack job materializes. Zero-token
    * docs occupy no span: they land at their neighbor's boundary with
    * n_seqs = 0.
    *
    * Same distributed prefix-sum core as [[sampleTokenBudget]]; the
    * placement arithmetic is a pure map-side projection on top.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Int, keyCols: Seq[String] = Nil): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    // `div` (integer division) keeps the arithmetic in LONG — a
    // double-rounded `/` would wobble near 2^53 tokens
    withCumBefore(df, idCol, tokensCol, keyCols)
      .withColumn("seq_id", expr(s"_cum_before div $seqLen"))
      .withColumn("seq_offset", pmod(col("_cum_before"), lit(seqLen.toLong)))
      .withColumn("n_seqs",
        when(col(tokensCol) <= 0, lit(0L))
          .otherwise(expr(s"(_cum_before + $tokensCol - 1) div $seqLen")
            - col("seq_id") + 1))
      .drop("_cum_before")
  }

  /** Packing-efficiency report: for each candidate sequence length,
    * how well concat-and-split packing ([[packSequences]]) fills the
    * training sequences and how much document fragmentation it causes
    * — the two numbers a tokenize-and-pack job is tuned on (fill rate
    * ↑ with longer sequences, but so does the share of documents cut
    * across a boundary, which costs cross-document attention noise).
    * One row per (key group ×) `seq_len`: `n_docs`, `n_tokens`,
    * `n_seqs` (= ⌈tokens/len⌉ — only the final sequence is padded
    * under concat-split), `fill_rate` (tokens / (n_seqs·len), 6 dp),
    * `n_split_docs` (documents whose token span crosses a sequence
    * boundary) and `split_rate` (6 dp).
    *
    * 100 TB design: ONE shared distributed prefix sum (the
    * [[packSequences]] core) serves every candidate length — the
    * per-length placement is pure map-side arithmetic on the same
    * `_cum_before`, exploded |seqLens|× and collapsed by a single
    * map-side-combined aggregate. Costing k candidate lengths is one
    * corpus scan, not k.
    */
  def packEfficiencyReport(df: DataFrame, idCol: String, tokensCol: String,
                           seqLens: Seq[Int], keyCols: Seq[String] = Nil): DataFrame = {
    require(seqLens.nonEmpty, "seqLens must be non-empty")
    require(seqLens.forall(_ > 0), s"seqLens must be positive: $seqLens")
    require(seqLens.distinct.size == seqLens.size, s"duplicate seqLens: $seqLens")
    val keyCs = keyCols.map(col)
    val t = col(tokensCol).cast("long")
    withCumBefore(df, idCol, tokensCol, keyCols)
      .select(keyCs :+ col("_cum_before") :+ t.as("_t")
        :+ explode(array(seqLens.map(l => lit(l.toLong)): _*)).as("seq_len"): _*)
      .withColumn("_crosses",
        (col("_t") > 0) &&
          (expr("(_cum_before + _t - 1) div seq_len") > expr("_cum_before div seq_len")))
      .groupBy(keyCs :+ col("seq_len"): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_t")).as("n_tokens"),
        sum(when(col("_crosses"), 1L).otherwise(0L)).as("n_split_docs"))
      .withColumn("n_seqs", expr("(n_tokens + seq_len - 1) div seq_len"))
      .withColumn("fill_rate",
        when(col("n_seqs") > 0,
          round(col("n_tokens").cast("double") /
            (col("n_seqs") * col("seq_len")).cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("split_rate",
        round(col("n_split_docs").cast("double") / col("n_docs").cast("double"), 6))
  }

  /** 60-bit numeric form of [[hashKey]] (both engines parse the same
    * 15 hex chars, so the value is engine-identical).
    */
  private def hashKey60(id: Column): Column =
    conv(hashKey(id), 16, 10).cast("long")

  /** Source-mixture planning: given a target share per key (domain /
    * source / language — the pretraining "data mixture"), compute the
    * LARGEST total token count `mixture_total` achievable at exactly
    * those proportions without upsampling any key — `T = min over
    * target keys of available_k / share_k` — and each key's resulting
    * take and keep-rate. Keys absent from `target` (and target keys
    * absent from the data) get rate 0: the mixture is exact, not
    * best-effort — renormalize the target first if partial mixtures
    * are wanted.
    *
    * Output per key: `n_tokens_avail`, `target_share`,
    * `mixture_total`, `n_tokens_take` (= share × total, double),
    * `rate` (= take / avail ∈ [0,1]).
    *
    * Scale shape: one per-key token aggregate (map-side combine), a
    * single-row global min attached as a broadcast crossJoin, pure
    * projection after — the key table is #domains-sized, never
    * corpus-sized. Float parity: plain IEEE ÷, ×, min in both
    * engines on integer-derived inputs — bit-identical.
    */
  def mixtureWeights(df: DataFrame, keyCol: String, tokensCol: String,
                     target: Seq[(String, Double)],
                     pin: Boolean = true): DataFrame = {
    val total = target.map(_._2).sum
    require(target.nonEmpty && math.abs(total - 1.0) < 1e-9,
      s"target shares must sum to 1, got $total")
    require(target.map(_._1).distinct.size == target.size, "duplicate target keys")
    val shareExpr = target.foldLeft(lit(0.0)) { case (acc, (k, s)) =>
      when(col(keyCol) === k, lit(s)).otherwise(acc)
    }
    // #keys-sized. `pin` (default) materializes it once so the min
    // branch and the output branch don't each re-scan the corpus —
    // right when the weights table IS the query. A composition that
    // consumes df AGAIN in the same job (mixtureSample's outer join)
    // passes pin=false: there the eager checkpoint would run a whole
    // SEPARATE job over df's upstream chain, while in the single job
    // ReuseExchange already shares the chain's top exchange between
    // the rate branches and the outer scan (the r8→r9
    // pipeline_curate_mix regression, VERDICT r9 #3).
    val availRaw = df.groupBy(col(keyCol))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens_avail"))
      .withColumn("target_share", shareExpr)
    val avail = if (pin) availRaw.localCheckpoint() else availRaw
    val tmax = avail.where(col("target_share") > 0)
      .agg(min(col("n_tokens_avail").cast("double") / col("target_share"))
        .as("mixture_total"))
    avail.crossJoin(broadcast(tmax))
      .withColumn("mixture_total", coalesce(col("mixture_total"), lit(0.0)))
      .withColumn("n_tokens_take", col("target_share") * col("mixture_total"))
      .withColumn("rate",
        when(col("n_tokens_avail") > 0,
          least(col("n_tokens_take") / col("n_tokens_avail").cast("double"), lit(1.0)))
          .otherwise(lit(0.0)))
  }

  /** The apply half of [[mixtureWeights]]: keep each row independently
    * with its key's mixture rate, deterministically in the row id
    * (`hash60(id) < floor(rate · 2⁶⁰)` — the numeric twin of the
    * hex-threshold samplers above, needed here because the rate is
    * data-dependent). In expectation each key contributes
    * `rate × avail ≈ share × mixture_total` tokens — the standard
    * Bernoulli realization of a mixture plan (exact per-key budgets
    * are [[sampleTokenBudget]]'s job). The rate table is
    * #domains-sized: AQE broadcasts the join; the sample itself stays
    * one map-side scan.
    */
  def mixtureSample(df: DataFrame, idCol: String, keyCol: String,
                    tokensCol: String, target: Seq[(String, Double)]): DataFrame = {
    val rates = mixtureWeights(df, keyCol, tokensCol, target, pin = false)
      .select(col(keyCol), col("rate"))
    df.join(broadcast(rates), keyCol)
      .where(hashKey60(col(idCol)) <
        floor(col("rate") * lit(1152921504606846976.0)).cast("long"))
      .drop("rate")
  }

  /** Temperature-smoothed mixture plan (the multilingual-LM sampling
    * rule of Conneau & Lample 2019 §3.1 / mT5 §3.2): sample key k
    * with probability q_k ∝ p_k^α where p_k is its share of available
    * tokens — α<1 flattens the distribution toward the tail sources,
    * α=1 is proportional. Since q_k = availₖ^α / Σ availⱼ^α, the
    * normalizer needs no second pass. Returns per key:
    * (key, n_tokens_avail, p_raw, q_temp, n_tokens_take, rate) for a
    * `totalTokens` budget, rate capped at 1 (no upsampling here —
    * q_temp states the TARGET; oversubscribed tails surface as
    * rate=1 rows whose take exceeds avail so the caller can lower
    * the budget or accept the shortfall).
    *
    * 100 TB design: one #keys-sized aggregate with map-side combine;
    * the two totals attach as a broadcast 1-row table; doubles round
    * to 6 dp so libm pow ulps cannot diverge across engines.
    */
  def mixtureTemperature(df: DataFrame, keyCol: String, tokensCol: String,
                         alpha: Double, totalTokens: Long): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive: $alpha")
    require(totalTokens >= 0, s"totalTokens must be >= 0: $totalTokens")
    val avail = df.groupBy(col(keyCol))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens_avail"))
      .localCheckpoint()
    val pa = pow(col("n_tokens_avail").cast("double"), lit(alpha))
    val tots = avail.agg(sum(col("n_tokens_avail")).cast("double").as("_t"),
      sum(pa).as("_ta"))
    val qTemp = pa / col("_ta")
    avail.crossJoin(broadcast(tots))
      .select(col(keyCol), col("n_tokens_avail"),
        round(col("n_tokens_avail") / col("_t"), 6).as("p_raw"),
        round(qTemp, 6).as("q_temp"),
        round(qTemp * totalTokens, 3).as("n_tokens_take"),
        round(least(qTemp * totalTokens / col("n_tokens_avail").cast("double"),
          lit(1.0)), 6).as("rate"))
  }

  /** Curriculum ordering: a deterministic global training order that
    * presents documents easiest-first (Bengio et al. 2009 curriculum
    * learning; the short-to-long sequence schedules of
    * Shortformer-style training), shuffled WITHIN a difficulty class
    * by the id hash so each stage stays i.i.d. Emits
    * `curriculum_rank` (1-based position in the (difficulty,
    * id-hash, id) total order) and `stage` (1..`stages`, exact NTILE
    * semantics: the first N mod k stages take one extra row).
    *
    * `difficultyCol` is expected to be a low-cardinality ordinal
    * (token count, length bucket, perplexity decile …) — round or
    * bucket continuous scores first; the offset table below is
    * (#difficulties × 256)-sized.
    *
    * 100 TB design: a global ROW_NUMBER would sort the corpus in one
    * task. This is the [[sampleTokenBudget]] two-level prefix sum
    * keyed by difficulty first: per-(difficulty, 256 id-hash-prefix
    * bucket) counts cumulate in a window over the tiny offset table,
    * the within-bucket rank is a window bounded at ~1/256 of one
    * difficulty class, the offset re-attaches via a broadcast
    * equi-join, and the stage split needs only the broadcast 1-row
    * corpus count — ROW_NUMBER/NTILE semantics with no global sort.
    */
  def curriculumOrder(df: DataFrame, idCol: String, difficultyCol: String,
                      stages: Int): DataFrame = {
    require(stages > 0, s"stages must be positive: $stages")
    val clash = Seq("curriculum_rank", "stage",
        "_h", "_b", "_bc", "_off", "_n", "_base", "_rem", "_cut", "_dj", "_bj")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has column(s): ${clash.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val withB = df
      .withColumn("_h", hashKey(col(idCol)))
      .withColumn("_b", substring(col("_h"), 1, 2))
    val wOff = Window.orderBy(col(difficultyCol), col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col(difficultyCol), col("_b"))
      .agg(count(lit(1)).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .drop("_bc")
      .withColumnRenamed(difficultyCol, "_dj").withColumnRenamed("_b", "_bj")
    val wIn = Window.partitionBy(col(difficultyCol), col("_b"))
      .orderBy(col("_h"), col(idCol))
    val nRow = broadcast(df.agg(count(lit(1)).as("_n")))
    // null-safe equality: a NULL difficulty class still ranks (as its
    // own class, first in the difficulty order — Spark's
    // asc-nulls-first window order) instead of being dropped by a
    // null-rejecting equi-join
    withB.join(offs,
        col(difficultyCol) <=> col("_dj") && col("_b") === col("_bj"))
      .drop("_dj", "_bj")
      .withColumn("curriculum_rank",
        col("_off") + row_number().over(wIn).cast("long"))
      .crossJoin(nRow)
      .withColumn("_base", expr(s"_n div $stages"))
      .withColumn("_rem", expr(s"_n % $stages"))
      .withColumn("_cut", col("_rem") * (col("_base") + 1))
      // NTILE: ranks ≤ _cut fall in the first _rem (base+1)-sized
      // stages; the rest split into base-sized stages. When N < k the
      // otherwise-branch is never taken (its div-by-zero never runs).
      .withColumn("stage",
        when(col("curriculum_rank") <= col("_cut"),
          expr("(curriculum_rank - 1) div (_base + 1) + 1"))
          .otherwise(expr("_rem + (curriculum_rank - 1 - _cut) div _base + 1")))
      .drop("_h", "_b", "_off", "_n", "_base", "_rem", "_cut")
  }

  /** Length-bucketed inference batching: rows group into fixed-width
    * length buckets (`lengthCol div bucketWidth` — integer
    * arithmetic, no float boundary) and number off into batches of
    * `batchSize` within their bucket, shuffled inside the bucket by
    * id hash. Batching similar lengths together is the padding-
    * efficiency move of batch inference/scoring jobs (a batch pads to
    * its longest member; mixing a 10-token and a 1000-token row
    * wastes 99% of the compute on pad tokens).
    *
    * Exact ROW_NUMBER-within-bucket semantics WITHOUT a per-bucket
    * hot partition: the rank comes from the (bucket, hash-prefix)
    * two-level prefix sum (the [[curriculumOrder]] machinery) — 256
    * salt cells per bucket, each windowed task sorts one cell, the
    * offset table is #buckets×256 rows. Appends `len_bucket` and
    * `batch_id` (0-based within bucket).
    */
  def lengthBatches(df: DataFrame, idCol: String, lengthCol: String,
                    batchSize: Int, bucketWidth: Int = 16): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val clash = Seq("len_bucket", "batch_id", "_h", "_b", "_bc", "_off", "_lj", "_bj", "_rk")
      .filter(df.columns.contains)
    require(clash.isEmpty, s"lengthBatches: input columns collide with internals: $clash")
    // contract: lengths are non-negative (integer `div` truncates
    // toward zero, which only coincides with floor-division bucket
    // semantics for x ≥ 0)
    import org.apache.spark.sql.expressions.Window
    val withB = df
      .withColumn("len_bucket", expr(s"$lengthCol div $bucketWidth").cast("long"))
      .withColumn("_h", hashKey(col(idCol)))
      .withColumn("_b", substring(col("_h"), 1, 2))
    val wOff = Window.partitionBy(col("len_bucket")).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col("len_bucket"), col("_b"))
      .agg(count(lit(1)).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .drop("_bc")
      .withColumnRenamed("len_bucket", "_lj").withColumnRenamed("_b", "_bj")
    val wIn = Window.partitionBy(col("len_bucket"), col("_b"))
      .orderBy(col("_h"), col(idCol))
    // null-safe on the derived bucket (the curriculumOrder fix): a
    // NULL-length row keeps its own NULL bucket instead of silently
    // vanishing through a null-rejecting equi-join
    withB.join(offs, col("len_bucket") <=> col("_lj") && col("_b") === col("_bj"))
      .drop("_lj", "_bj")
      .withColumn("_rk", col("_off") + row_number().over(wIn).cast("long"))
      .withColumn("batch_id", expr(s"(_rk - 1) div $batchSize").cast("long"))
      .drop("_h", "_b", "_off", "_rk")
  }

  /** Balanced shard assignment by serpentine (snake) dealing — the
    * standard stateless way to write `nShards` training shards with
    * near-equal weight totals (token or byte counts) without
    * bin-packing state: rank documents heaviest-first and deal rank
    * r to shard
    *   pos = (r-1) mod nShards
    *   shard = pos                 when (r-1) div nShards is even
    *   shard = nShards - 1 - pos   otherwise
    * so each consecutive "deal row" of nShards docs reverses
    * direction and every shard receives one doc per row — the
    * per-row weight spread is bounded by the row's max-min doc
    * weight, which the heaviest-first order makes monotonically
    * shrinking.
    *
    * The rank is the same two-level prefix sum [[lengthBatches]]
    * uses, with the coarse integer weight band ordered DESCENDING:
    * the one unpartitioned window runs over #bands×256 count rows
    * only, and no task sorts more than one (band, md5-prefix) cell —
    * never a global sort of the corpus. The resulting total order
    * (band DESC, bucket, md5, id) is weight-descending at band
    * granularity, which is all the balance argument needs, and is
    * engine-portable (the DuckDB oracle replays it with ROW_NUMBER).
    *
    * Contract: weights are non-negative and non-null (integer `div`
    * banding, like [[lengthBatches]]). Annotates: every input column
    * passes through plus `shard`.
    */
  def snakeShards(df: DataFrame, idCol: String, weightCol: String,
                  nShards: Int, bandWidth: Int = 16): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    require(bandWidth > 0, s"bandWidth must be positive: $bandWidth")
    val clash = Seq("shard", "_wb", "_h", "_b", "_bc", "_off", "_wj", "_bj",
        "_rk", "_pos")
      .filter(df.columns.contains)
    require(clash.isEmpty, s"snakeShards: input columns collide with internals: $clash")
    import org.apache.spark.sql.expressions.Window
    val withB = df
      .withColumn("_wb", expr(s"$weightCol div $bandWidth").cast("long"))
      .withColumn("_h", hashKey(col(idCol)))
      .withColumn("_b", substring(col("_h"), 1, 2))
    val wOff = Window.orderBy(col("_wb").desc, col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col("_wb"), col("_b"))
      .agg(count(lit(1)).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .drop("_bc")
      .withColumnRenamed("_wb", "_wj").withColumnRenamed("_b", "_bj")
    val wIn = Window.partitionBy(col("_wb"), col("_b"))
      .orderBy(col("_h"), col(idCol))
    // null-safe on the derived band: a NULL-weight row sorts last
    // (desc = nulls-last on both engines) instead of being dropped
    withB.join(offs, col("_wb") <=> col("_wj") && col("_b") === col("_bj"))
      .drop("_wj", "_bj")
      .withColumn("_rk", col("_off") + row_number().over(wIn).cast("long"))
      .withColumn("_pos", expr(s"(_rk - 1) % $nShards"))
      .withColumn("shard",
        when(expr(s"((_rk - 1) div $nShards) % 2") === 0, col("_pos"))
          .otherwise(lit(nShards - 1) - col("_pos")).cast("long"))
      .drop("_wb", "_h", "_b", "_off", "_rk", "_pos")
  }

  /** Deterministic proportional source interleaving by stride
    * scheduling (Waldspurger & Weihl 1995; the deterministic online
    * analogue of mixture sampling): a key with weight w emits its
    * r-th document at virtual time (r − 0.5) / w, so sorting any
    * slice of the output by `interleave_key` yields an order in
    * which every prefix contains each key in proportion to its
    * weight — the training-reader ordering that realizes a mixture
    * without random draws.
    *
    * `weights` is one row per key (compose with [[mixtureWeights]] /
    * [[mixtureTemperature]] output); keys absent from it are dropped
    * (only the keys being mixed are ordered — the [[mixtureSample]]
    * restriction semantics). The per-key rank is the two-level
    * prefix sum (md5-prefix sub-buckets; offsets table #keys×256, no
    * per-key hot partition), the weight join is a #keys-row
    * broadcast, and the key column is an ANNOTATION — no global sort
    * happens here; the consumer sorts (or range-partitions) by it.
    */
  def interleaveOrder(df: DataFrame, idCol: String, keyCol: String,
                      weights: DataFrame, weightCol: String): DataFrame = {
    require(weights.columns.contains(keyCol) && weights.columns.contains(weightCol),
      s"weights must carry ($keyCol, $weightCol); has ${weights.columns.mkString(", ")}")
    val clash = Seq("src_rank", "interleave_key",
        "_h", "_b", "_bc", "_off", "_kj", "_bj", "_kw", "_w")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"interleaveOrder: input columns collide with internals: $clash")
    import org.apache.spark.sql.expressions.Window
    // the #keys-sized weight table collects ONCE (the epochApply
    // convention — bounded by contract): the duplicate-key guard runs
    // on the collected rows (a duplicate would silently duplicate
    // every row of its key and corrupt src_rank), and the broadcast
    // side rebuilds from them, so a weights table derived from a
    // corpus aggregate is not re-executed by the check
    val wsel = weights.select(col(keyCol).as("_kw"),
      col(weightCol).cast("double").as("_w"))
    val wrows = wsel.collect()
    val wkeys = wrows.map(_.get(0)).toSeq
    require(wkeys.distinct.length == wkeys.length,
      s"interleaveOrder: duplicate weight keys: ${wkeys.diff(wkeys.distinct).distinct.take(3)}")
    // the broadcast weight join runs FIRST: keys drop atomically, so
    // per-key ranks over the kept rows equal ranks computed before
    // the drop — and a dropped key's rows never pay the rank windows
    // (at scale an unweighted source would otherwise still shuffle).
    // Null-safe: a NULL-keyed weights row weights the NULL-key rows
    // (a key absent from `weights` still drops, NULL included).
    val wtab = broadcast(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(wrows: _*), wsel.schema))
    val withB = df
      .join(wtab, col(keyCol) <=> col("_kw"))
      .withColumn("_h", hashKey(col(idCol)))
      .withColumn("_b", substring(col("_h"), 1, 2))
    val wOff = Window.partitionBy(col(keyCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col(keyCol), col("_b"))
      .agg(count(lit(1)).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .drop("_bc")
      .withColumnRenamed(keyCol, "_kj").withColumnRenamed("_b", "_bj")
    val wIn = Window.partitionBy(col(keyCol), col("_b"))
      .orderBy(col("_h"), col(idCol))
    withB.join(offs, col(keyCol) <=> col("_kj") && col("_b") === col("_bj"))
      .drop("_kj", "_bj")
      .withColumn("src_rank", col("_off") + row_number().over(wIn).cast("long"))
      .withColumn("interleave_key",
        round((col("src_rank").cast("double") - lit(0.5)) / col("_w"), 9))
      .drop("_h", "_b", "_off", "_kw", "_w")
  }

  /** Keep the `n` BEST rows per key by `scoreCol` (descending, ties
    * to the smaller id) — the "top-100 highest-quality documents per
    * domain" selection rule. Same salted two-stage funnel as
    * [[capPerKey]], ordered by score instead of hash: stage 1 ranks
    * within (key, salt) so a hot key's candidates spread over
    * `saltBuckets` tasks and each keeps its local top-n (a row's
    * local rank never exceeds its global rank, so no true top-n row
    * is discarded); stage 2 ranks the ≤ saltBuckets×n survivors.
    */
  def topPerKey(df: DataFrame, keyCol: String, idCol: String,
                scoreCol: String, n: Int, saltBuckets: Int = 16): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    require(saltBuckets > 0, s"saltBuckets must be positive: $saltBuckets")
    val clash = Seq("_salt", "_rn1", "_rn").filter(df.columns.contains)
    require(clash.isEmpty, s"topPerKey: input columns collide with internals: $clash")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(desc(scoreCol), col(idCol))
    val pruned = df
      .withColumn("_salt", pmod(crc32(col(idCol).cast("string")), lit(saltBuckets)))
      .withColumn("_rn1", row_number().over(
        Window.partitionBy(col(keyCol), col("_salt")).orderBy(ord: _*)))
      .where(col("_rn1") <= n)
      .drop("_salt", "_rn1")
    pruned
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(ord: _*)))
      .where(col("_rn") <= n)
      .drop("_rn")
  }

  /** Frequency capping: keep at most `maxPerKey` rows per `keyCol`
    * (the per-domain / per-source cap every crawl-curation pipeline
    * applies so one hot domain cannot dominate the corpus). The kept
    * subset is the `maxPerKey` SMALLEST id-hashes within the key —
    * deterministic across runs/engines/repartitioning and unbiased by
    * input order, consistent with the hash-threshold samplers above.
    *
    * 100 TB design: a naive per-key window sorts every row of a hot
    * key in one task (a 50%-of-corpus domain = an unbounded
    * partition). Instead, stage 1 windows over (key, salt) — each of
    * the `saltBuckets` sub-partitions keeps its own `maxPerKey`
    * smallest, bounding any task at bucket size — and stage 2 re-ranks
    * the ≤ saltBuckets×maxPerKey survivors per key. The N smallest
    * per bucket are a superset of the N smallest overall, so the
    * result is identical to the single-window form (OpsSpec pins the
    * equivalence).
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
                maxPerKey: Int, saltBuckets: Int = 16): DataFrame = {
    require(maxPerKey > 0, s"maxPerKey must be positive: $maxPerKey")
    require(saltBuckets > 0, s"saltBuckets must be positive: $saltBuckets")
    val clash = Seq("_salt", "_rn1", "_rn").filter(df.columns.contains)
    require(clash.isEmpty, s"capPerKey: input columns collide with internals: $clash")
    import org.apache.spark.sql.expressions.Window
    val h = hashKey(col(idCol))
    val pruned = df
      .withColumn("_salt", pmod(crc32(col(idCol).cast("string")), lit(saltBuckets)))
      .withColumn("_rn1", row_number().over(
        Window.partitionBy(col(keyCol), col("_salt")).orderBy(h, col(idCol))))
      .where(col("_rn1") <= maxPerKey)
      .drop("_salt", "_rn1")
    pruned
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(h, col(idCol))))
      .where(col("_rn") <= maxPerKey)
      .drop("_rn")
  }

  /** Apply an [[epochPlan]]: materialize per-key repeat factors as
    * actual training copies — every row repeats `floor(epochs)` times,
    * plus one extra copy for the deterministic id-hash fraction
    * `epochs − floor(epochs)` of rows, so each key's realized token
    * count matches `n_tokens_take` in expectation and the copy set is
    * bit-stable across runs, engines and repartitionings (the repeat
    * schedule a data loader consumes). The hash is salted ("#epoch")
    * so the extra-copy decision is independent of any earlier
    * [[deterministicSample]] keep decision on the same ids.
    *
    * Scale shape: the plan is #keys-sized and collects once (the same
    * bounded class as the mixture tables); repeat counts ride as a
    * plan CASE, so the corpus pays one map-side `explode(sequence)` —
    * no join, no shuffle. Keys absent from the plan (or with
    * epochs = 0) emit nothing.
    */
  def epochApply(docs: DataFrame, plan: DataFrame, idCol: String,
                 keyCol: String): DataFrame = {
    val max = 1L << 60
    val clash = Seq("_full", "_extra", "copy").filter(docs.columns.contains)
    require(clash.isEmpty, s"epochApply: input columns collide with internals: $clash")
    val rows = plan.select(col(keyCol).cast("string"), col("epochs").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    require(rows.nonEmpty, "epochApply: empty plan")
    require(rows.map(_._1).distinct.length == rows.length,
      s"epochApply: duplicate plan keys")
    val fullCol = rows.foldLeft(lit(0L)) { case (acc, (k, e)) =>
      when(col(keyCol) === k, lit(math.floor(e).toLong)).otherwise(acc)
    }
    // 60-bit hex cutoff for the fractional epoch, floor semantics
    val thrCol = rows.foldLeft(lit("0")) { case (acc, (k, e)) =>
      val cut = math.min(max, math.floor((e - math.floor(e)) * max.toDouble).toLong)
      when(col(keyCol) === k, lit(f"$cut%015x")).otherwise(acc)
    }
    docs
      .withColumn("_full", fullCol)
      .withColumn("_extra",
        when(substring(md5(concat(col(idCol).cast("string"), lit("#epoch"))), 1, 15)
          < thrCol, 1L).otherwise(0L))
      // sequence(1, 0) would COUNT DOWN ([1,0] — Spark infers step −1
      // when start > stop); a NULL explodes to no rows, which is the
      // drop we want for zero-copy keys
      .withColumn("copy", explode(
        when(col("_full") + col("_extra") > 0,
          sequence(lit(1L), col("_full") + col("_extra")))))
      .drop("_full", "_extra")
  }

  /** Cluster-balanced diversity sampling: assign every row to its
    * nearest centroid (plan-literal argmax via
    * [[graft.ops.Similarity.assignClusters]] — no join, no shuffle of
    * the corpus) and keep at most `maxPerCluster` rows per cluster
    * through the salted deterministic cap. The distributed stand-in
    * for k-center / facility-location subset selection: coverage
    * comes from the centroid partition (every region of embedding
    * space keeps representatives), boundedness from the per-cluster
    * cap — dense regions can no longer dominate the sample the way
    * they do under uniform row sampling. Output keeps the appended
    * `cent_id` so downstream stages can stratify on it.
    */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, maxPerCluster: Int,
                            centIdCol: String = "cent_id",
                            centVecCol: String = "centroid"): DataFrame = {
    require(!df.columns.contains("cent_id"),
      "clusterBalancedSample: input already has a 'cent_id' column")
    capPerKey(
      graft.ops.Similarity.assignClusters(df, vecCol, centroids, centIdCol, centVecCol),
      "cent_id", idCol, maxPerCluster)
  }

  /** Data-constrained epoch planning (the Muennighoff et al. 2023
    * "scaling data-constrained LMs" regime): distribute a token
    * budget over keys at the target mixture, but no key may repeat
    * its data more than `maxEpochs` times — capped keys freeze at
    * `avail × maxEpochs` and their unmet share redistributes over the
    * uncapped keys AT THE TARGET PROPORTIONS (exact water-filling,
    * not best-effort). Output per key: `n_tokens_avail`,
    * `target_share`, `cap_tokens`, `n_tokens_take`, `epochs`
    * (take/avail — the repeat factor a data loader applies), and
    * `capped`. Keys outside the target take 0.
    *
    * The fixed point is computed in CLOSED FORM, no iteration: with
    * keys ordered by `r_k = cap_k / share_k` ascending, capping
    * exactly the first i keys is self-consistent iff
    * `r_i ≤ λ_i ≤ r_{i+1}` where `λ_i = (B − Σ_{j≤i} cap_j) /
    * (1 − Σ_{j≤i} share_j)` is the implied water level (`take_k =
    * min(cap_k, share_k·λ)`); λ_0 = B covers the no-cap case and an
    * absent valid boundary means the budget exceeds every cap (all
    * keys capped). One window over the #keys-sized plan table, one
    * 1-row broadcast — never a corpus-sized shuffle and never a
    * driver loop, so re-planning a 10⁶-domain mixture is one job.
    * Float parity: the prefix sums run in the window's total order
    * and every engine walks the same IEEE arithmetic — the oracle
    * replays the identical closed form.
    */
  def epochPlan(df: DataFrame, keyCol: String, tokensCol: String,
                target: Seq[(String, Double)], budgetTokens: Long,
                maxEpochs: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = target.map(_._2).sum
    require(target.nonEmpty && math.abs(total - 1.0) < 1e-9,
      s"target shares must sum to 1, got $total")
    require(target.map(_._1).distinct.size == target.size, "duplicate target keys")
    require(target.forall(_._2 > 0), "target shares must be positive")
    require(budgetTokens >= 0, s"budgetTokens must be >= 0: $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    val shareExpr = target.foldLeft(lit(0.0)) { case (acc, (kk, s)) =>
      when(col(keyCol) === kk, lit(s)).otherwise(acc)
    }
    require(!Seq("_tk", "_ts").contains(keyCol),
      s"keyCol collides with an internal column: $keyCol")
    val spark = df.sparkSession
    import spark.implicits._
    val b = lit(budgetTokens.toDouble)
    val avail = df.groupBy(col(keyCol))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens_avail"))
      .withColumn("target_share", shareExpr)
      .localCheckpoint()
    // every target key participates in the water-filling even when df
    // has no rows for it (avail 0 → cap 0 → capped immediately, its
    // share redistributes over the rest at target proportions);
    // without this a missing key's share would silently under-spend
    // the budget with no `capped` indicator
    val tgtDf = target.toDF("_tk", "_ts")
    val act = tgtDf
      .join(avail.where(col("target_share") > 0),
        col("_tk") === col(keyCol), "left")
      .select(col("_tk").as(keyCol),
        coalesce(col("n_tokens_avail"), lit(0L)).as("n_tokens_avail"),
        col("_ts").as("target_share"))
      .withColumn("cap_tokens",
        col("n_tokens_avail").cast("double") * lit(maxEpochs))
      .withColumn("_r", col("cap_tokens") / col("target_share"))
    val ord = Window.orderBy(col("_r"), col(keyCol))
    val wCum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // λ_i per candidate boundary; boundary i is valid iff the sandwich
    // r_i ≤ λ_i ≤ r_{i+1} holds (λ_0 = B is checked against min r via
    // the same predicate on a prepended zero-cap sentinel-free form:
    // B ≤ r_1 ⟺ no row has r < B ⟺ the no-cap case needs no boundary
    // row — expressed below as the B-fallback when B ≤ min(_r))
    val lamRows = act
      .withColumn("_cum_cap", sum(col("cap_tokens")).over(wCum))
      .withColumn("_cum_share", sum(col("target_share")).over(wCum))
      .withColumn("_next_r", lead(col("_r"), 1).over(ord))
      .withColumn("_lam",
        when(col("_cum_share") < 1.0 - 1e-12,
          (b - col("_cum_cap")) / (lit(1.0) - col("_cum_share"))))
    val lamStar = lamRows.agg(
      min(when(col("_lam").isNotNull && col("_r") <= col("_lam") &&
          (col("_next_r").isNull || col("_lam") <= col("_next_r")),
        col("_lam"))).as("_lam_star"),
      min(col("_r")).as("_min_r"))
      .select(when(b <= col("_min_r"), b)
        .otherwise(col("_lam_star")).as("_lam_star"))
    // _lam_star NULL ⟺ budget ≥ every cap ⟺ take = cap everywhere
    val take = least(col("cap_tokens"),
      coalesce(col("target_share") * col("_lam_star"), col("cap_tokens")))
    act.crossJoin(broadcast(lamStar))
      .select(col(keyCol), col("n_tokens_avail"), col("target_share"),
        round(col("cap_tokens"), 3).as("cap_tokens"),
        round(take, 3).as("n_tokens_take"),
        round(when(col("n_tokens_avail") > 0,
            take / col("n_tokens_avail").cast("double")).otherwise(lit(0.0)), 6)
          .as("epochs"),
        (col("_lam_star").isNull ||
          col("target_share") * col("_lam_star") >= col("cap_tokens")).as("capped"))
      .unionByName(avail.where(col("target_share") <= 0)
        .select(col(keyCol), col("n_tokens_avail"), lit(0.0).as("target_share"),
          round(col("n_tokens_avail").cast("double") * lit(maxEpochs), 3).as("cap_tokens"),
          lit(0.0).as("n_tokens_take"), lit(0.0).as("epochs"),
          lit(false).as("capped")))
  }
}
