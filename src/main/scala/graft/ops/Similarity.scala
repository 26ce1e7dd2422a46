package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two paths, mirroring what a 100 TB vector corpus needs:
  *  - brute-force cosine top-k: the exact baseline — a broadcast of
  *    the (small) query set against a full scan of the corpus; scales
  *    linearly and partitions perfectly.
  *  - LSH-bucketed ANN: random-hyperplane signatures (hyperplane
  *    weights ±1 derived from md5, so both engines and any re-run
  *    derive the identical planes) shrink the candidate set to one
  *    bucket; the refine step is exact cosine within the bucket.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in
    * double precision with left-to-right `aggregate` folds —
    * deterministic summation order on every engine.
    */
  // native one-pass kernels (see VectorExpressions) — bit-identical
  // to the HOF fold and the oracle's sequential SUM, ~100× cheaper
  def dot(x: Column, y: Column): Column = graft.functions.VectorExpressions.vec_dot(x, y)

  def norm(x: Column): Column = graft.functions.VectorExpressions.vec_norm(x)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact per-query top-k over scored (query_id, nn_id, cosine) pairs
    * in TWO window stages. A single `row_number() OVER (PARTITION BY
    * query_id)` funnels every scored candidate of a query onto one
    * task — with a handful of queries against a 100 TB corpus that is
    * a one-task-per-query sort of the whole candidate set. Stage 1
    * ranks within (query_id, salt) so candidates spread over `fanout`
    * tasks per query and each keeps its local top-k; stage 2 ranks the
    * ≤ fanout×k survivors — a tiny exchange. Results are identical to
    * the single-window form: every global top-k row ranks ≤ k inside
    * its salt group (local rank never exceeds global rank), so stage 1
    * never discards a true neighbor. The salt is content-derived
    * (hash of nn_id), not partition-derived, so the plan is
    * deterministic under any physical partitioning.
    */
  private def topKPerQuery(pairs: DataFrame, k: Int, fanout: Int = 32,
                           extra: Seq[String] = Nil): DataFrame = {
    val salted = pairs.withColumn("_salt", pmod(hash(col("nn_id")), lit(fanout)))
    val w1 = Window.partitionBy(col("query_id"), col("_salt"))
      .orderBy(desc("cosine"), col("nn_id"))
    val survivors = salted.withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= k)
    val w2 = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("nn_id"))
    survivors.withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(("query_id" +: "rank" +: "nn_id" +: "cosine" +: extra).map(col): _*)
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * `queries` is broadcast — it is the small side by construction.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int = 10,
                     includeSelf: Boolean = false): DataFrame = {
    // norms precomputed once per vector — per-pair work is the dot
    // product only (the norm recompute would triple the flops)
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      norm(col(vecCol)).as("nn_norm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val pairs = c.crossJoin(broadcast(q))
      .where(if (includeSelf) lit(true) else col("nn_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_vec"), col("nn_vec")) / (col("q_norm") * col("nn_norm")))
    topKPerQuery(pairs, k)
  }

  /** Hard-negative mining for contrastive / retrieval training: for
    * each query vector, the top-k most-similar corpus vectors whose
    * `labelCol` DIFFERS from the query's — the "close but wrong"
    * examples a dual-encoder trains against (in-batch negatives'
    * stronger offline form). Same plan shape as [[bruteForceTopK]]:
    * the query batch broadcasts (training mines negatives one batch
    * at a time — the query side is bounded by construction), the
    * corpus scans once with no shuffle, and the per-query top-k runs
    * through the salted two-stage funnel. Output: (query_id, rank,
    * nn_id, cosine, nn_label).
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(labelCol).as("nn_label"),
      col(vecCol).as("nn_vec"), norm(col(vecCol)).as("nn_norm"))
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("q_label"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm"))
    val pairs = c.crossJoin(broadcast(q))
      .where(col("nn_id") =!= col("query_id") &&
        !(col("nn_label") <=> col("q_label")))
      .withColumn("cosine", dot(col("q_vec"), col("nn_vec")) / (col("q_norm") * col("nn_norm")))
    topKPerQuery(pairs, k, extra = Seq("nn_label"))
  }

  /** k-NN label-purity report — the embedding-space label-noise
    * screen (confident-learning flavor): for a bounded probe sample,
    * how often do a vector's k nearest neighbors share its label?
    * One row per label: `n_probes`, `n_pairs` (ranked neighbor rows,
    * ≤ k·n_probes), `n_same` and `purity` = n_same/n_pairs. A label
    * whose purity sits far below the others marks a slice whose
    * labels disagree with the embedding geometry (noisy labels or an
    * incoherent class).
    *
    * Scale: `probes` must be a bounded sample (it broadcasts against
    * the corpus scan — the exact-kNN baseline's linear-scan shape);
    * purity is integer-exact (one double division per label at the
    * end), so partial-agg order cannot move the report.
    */
  def knnLabelPurity(corpus: DataFrame, probes: DataFrame,
                     idCol: String, vecCol: String, labelCol: String,
                     k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(labelCol).as("nn_label"),
      col(vecCol).as("nn_vec"), norm(col(vecCol)).as("nn_norm"))
    val q = probes.select(col(idCol).as("query_id"), col(labelCol).as("q_label"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm"))
    val pairs = c.crossJoin(broadcast(q))
      .where(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_vec"), col("nn_vec")) / (col("q_norm") * col("nn_norm")))
    topKPerQuery(pairs, k, extra = Seq("nn_label", "q_label"))
      .groupBy(col("q_label").as("label"))
      .agg(countDistinct(col("query_id")).as("n_probes"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("nn_label") <=> col("q_label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("purity",
        round(col("n_same").cast("double") / col("n_pairs"), 6))
  }

  /** ANN recall evaluation: [[ivfTopK]] against the exact
    * [[bruteForceTopK]] ground truth on the same bounded query set —
    * the overlap@k report that picks nprobe/codebook size before a
    * production ANN run trusts the index. One row: `n_queries`, `k`,
    * `avg_recall` (= Σ overlap / Σ truth-set size, integer-exact) and
    * `min_recall` (the worst query — averages hide tail misses).
    * Cost: two linear scans of the corpus against the broadcast query
    * batch (the evaluation IS the exact baseline, run once per index
    * configuration, not per production query).
    */
  def annRecallReport(corpus: DataFrame, queries: DataFrame,
                      centroids: DataFrame, idCol: String, vecCol: String,
                      k: Int = 10, nprobe: Int = 2): DataFrame = {
    // the ground truth is consumed twice (overlap join + truth
    // counts); pinned eagerly so the exact corpus scan runs ONCE —
    // the pinned table is #queries × k rows, bounded by construction
    val bf = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("nn_id"))
      .localCheckpoint(true)
    val iv = ivfTopK(corpus, queries, centroids, idCol, vecCol, k, nprobe)
    recallAgainst(bf, iv, k)
  }

  /** Recall@k of one approximate result set against a pinned exact
    * ground truth: one row — n_queries, k, avg_recall (Σ overlap / Σ
    * truth size, integer-exact) and min_recall (the worst query).
    */
  private def recallAgainst(bf: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = bf.join(approx.select(col("query_id"), col("nn_id")),
        Seq("query_id", "nn_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("_hit"))
    bf.groupBy(col("query_id")).agg(count(lit(1)).as("_true"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("_hit", coalesce(col("_hit"), lit(0L)))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("_hit")).cast("double") / sum(col("_true")), 6).as("avg_recall"),
        round(min(col("_hit").cast("double") / col("_true")), 6).as("min_recall"))
      .withColumn("k", lit(k.toLong))
      .select(col("n_queries"), col("k"), col("avg_recall"), col("min_recall"))
  }

  /** Recall@k of EVERY serving arm — ivf (coarse-quantizer probe), pq
    * (ADC over codes) and lsh (multi-probe hyperplane buckets) —
    * against one shared exact ground truth: the report that picks an
    * index family before a production ANN run trusts it. One row per
    * arm: (arm, n_queries, k, avg_recall, min_recall).
    *
    * Scale: the exact baseline runs ONCE and pins (#queries × k
    * rows); each arm is its own bounded serving query against the
    * broadcast query set; the recall aggregates run over pinned-truth
    * joins. Cost ≈ the three serving paths + one exact scan —
    * evaluation is per index configuration, never per query.
    *
    * Measured and rejected (round 12): collapsing the three per-arm
    * recall chains into ONE overlap join + one (arm, query) → (arm)
    * aggregate (arm-tagged candidate union before the join) is
    * SLOWER warm — 3.8–4.0 s vs 3.3–3.6 s on the sf0.1 fixture with
    * identical companion rows, and 2.87 s vs 2.31 s on the full
    * sweep folds. Same lesson as the bigram-perplexity fold: the
    * three per-arm tails are independent stages the scheduler
    * overlaps with the other arms' serving chains, while the
    * collapsed form adds a barrier after the slowest arm. The
    * stage-count "floor" here is benign — the tail stages hide
    * inside the serving chains' wall time.
    */
  def annRecallArms(corpus: DataFrame, queries: DataFrame,
                    centroids: DataFrame, codebooks: DataFrame,
                    idCol: String, vecCol: String, k: Int = 10,
                    nprobe: Int = 2, planes: Int = 8): DataFrame = {
    val bf = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("nn_id"))
      .localCheckpoint(true)
    val arms = Seq(
      "ivf" -> ivfTopK(corpus, queries, centroids, idCol, vecCol, k, nprobe),
      "lsh" -> lshTopK(corpus, queries, idCol, vecCol, k, planes, hamming = 1),
      "pq"  -> pqTopK(corpus, queries, idCol, vecCol, codebooks, k))
    arms.map { case (name, approx) =>
      recallAgainst(bf, approx, k).select(lit(name).as("arm"),
        col("n_queries"), col("k"), col("avg_recall"), col("min_recall"))
    }.reduce(_ union _)
  }

  /** Embedding-drift report: per-label mean vector vs the global
    * corpus mean, as a cosine — the embedding-space distribution-
    * shift screen (a slice whose centroid points away from the
    * corpus marks domain drift, an ingestion bug, or an encoder
    * version mismatch). One corpus explode feeds a (label, dim)
    * DECIMAL(38,15)-sum table — #labels × dims rows, exact and
    * order-independent — and the global centroid derives from THAT
    * table (no second corpus pass); the centroid cosine then sums
    * 12-dp-rounded per-dim contributions, so any engine replays the
    * identical arithmetic. Output: (label, n_vecs, drift_cosine).
    */
  def embeddingDriftReport(df: DataFrame, labelCol: String,
                           vecCol: String): DataFrame = {
    val dec = "decimal(38,15)"
    val pe = df.select(col(labelCol).as("label"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("_pos", "_val")))
    // per-(label, dim) exact sums; pinned once — the global roll-up
    // and the per-label branch both read it (multi-branch ⇒ eager)
    val per = pe.groupBy(col("label"), col("_pos"))
      .agg(sum(col("_val").cast(dec)).as("_sl"), count(lit(1)).as("_nl"))
      .localCheckpoint(true)
    val glob = per.groupBy(col("_pos"))
      .agg(sum(col("_sl")).as("_sg"), sum(col("_nl")).as("_ng"))
    val j = per.join(broadcast(glob), "_pos")
      .withColumn("_ml", col("_sl").cast("double") / col("_nl"))
      .withColumn("_mg", col("_sg").cast("double") / col("_ng"))
    j.groupBy(col("label"))
      .agg(max(col("_nl")).cast("long").as("n_vecs"),
        sum(round(col("_ml") * col("_mg"), 12).cast(dec)).cast("double").as("_dot"),
        sum(round(col("_ml") * col("_ml"), 12).cast(dec)).cast("double").as("_l2"),
        sum(round(col("_mg") * col("_mg"), 12).cast(dec)).cast("double").as("_g2"))
      .select(col("label"), col("n_vecs"),
        round(col("_dot") / (sqrt(col("_l2")) * sqrt(col("_g2"))), 6).as("drift_cosine"))
  }

  /** Deterministic md5-derived ±1 hyperplane weight for (plane, dim):
    * +1 when the first hex nibble of md5("plane|dim") is even.
    * Computed at plan time (the weights are constants) and shipped as
    * literal arrays — no per-row hashing.
    */
  private[ops] def planeWeight(plane: Int, dim: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane|$dim".getBytes("UTF-8"))
    val firstNibble = (h(0) >> 4) & 0xf
    if (firstNibble % 2 == 0) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket id (a `planes`-char bit string).
    * Assumes a fixed dimensionality per column (weights cover `dims`
    * entries; vectors shorter than that use their prefix).
    */
  def lshBucket(vec: Column, planes: Int = 8, dims: Int = 64): Column = {
    val bits = (0 until planes).map { p =>
      val w = array((0 until dims).map(i => lit(planeWeight(p, i))): _*)
      when(dot(vec, w) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Nearest-centroid cluster label for every row: appends `cent_id`
    * (the argmax-cosine centroid, ties to the LARGEST id — mirrored
    * in the oracle) to `df`. The IVF list assignment exposed as a
    * standalone operator: SemDeDup-style semantic dedup blocks on it
    * ([[Dedup.semDedupDrop]]); a persisted IVF layout partitions on
    * it. The codebook is collected (small by construction — the same
    * k ≤ a-few-thousand envelope as [[trainIvfCentroids]]) and ships
    * as plan literals, so the assignment is a pure per-row projection:
    * no join, no shuffle, no exchange of the corpus at any size.
    */
  def assignClusters(df: DataFrame, vecCol: String, centroids: DataFrame,
                     centIdCol: String = "cent_id",
                     centVecCol: String = "centroid"): DataFrame = {
    val cents = centroids
      .select(col(centIdCol).cast("long"), col(centVecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    // empty codebook (an empty corpus trains one) → empty assignment,
    // schema intact — not a crash on a library user's first empty batch
    if (cents.isEmpty)
      return df.where(lit(false)).withColumn("cent_id", lit(null).cast("long"))
    val v = col(vecCol).cast("array<double>")
    val scored = cents.map { case (ci, cv) =>
      struct(cosine(v, array(cv.map(lit): _*)).as("c"), lit(ci).as("ci"))
    }
    val label = if (scored.length == 1) lit(cents.head._1)
                else greatest(scored.toIndexedSeq: _*).getField("ci")
    df.withColumn("cent_id", label)
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned by nearest
    * centroid; a query probes only its `nprobe` closest lists and
    * refines with exact cosine inside them.
    *
    * Centroids are caller-provided (id, vector) — train them offline
    * (k-means or a deterministic sample like "every nth vector"; the
    * [[trainIvfCentroids]] output goes in with `cent_id`/`centroid`
    * renamed to `idCol`/`vecCol`); the
    * assignment itself is deterministic given the centroids, which
    * keeps results reproducible across runs/engines. The corpus side
    * labels through [[assignClusters]] (plan-literal argmax — no join,
    * no shuffle of the corpus); only the tiny query set touches the
    * broadcast centroid table for its multi-probe window.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int = 10, nprobe: Int = 2): DataFrame = {
    val cent = centroids.select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))

    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame = {
      if (keep == 1) {
        // corpus side: delegate to the standalone argmax assignment
        assignClusters(df, vec, centroids, idCol, vecCol)
      } else {
        val scored = df.crossJoin(broadcast(cent))
          .withColumn("cent_cos", cosine(col(vec), col("cent_vec")))
        // the multi-probe side is the (small) query set — a window
        // top-nprobe there is cheap and keeps one code path per rank
        val w = Window.partitionBy(col(id)).orderBy(desc("cent_cos"), desc("cent_id"))
        scored
          .withColumn("cent_rank", row_number().over(w))
          .where(col("cent_rank") <= keep)
          .drop("cent_vec", "cent_cos", "cent_rank")
      }
    }

    val c = assign(
      corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
        norm(col(vecCol)).as("nn_norm")), "nn_id", "nn_vec", keep = 1)
    val q = assign(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        norm(col(vecCol)).as("q_norm")), "query_id", "q_vec", keep = nprobe)

    // each corpus vector lives in exactly one list (keep = 1), so a
    // (query, neighbor) pair appears at most once across probed lists
    val pairs = c.join(broadcast(q), "cent_id")
      .where(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_vec"), col("nn_vec")) / (col("q_norm") * col("nn_norm")))
    topKPerQuery(pairs, k)
  }

  /** Deterministic spherical k-means trainer producing the IVF
    * centroid table (cent_id, centroid: array<double>) `ivfTopK`
    * consumes — completing the IVF story without a caller-provided
    * centroid set.
    *
    * Every step is reproducible across runs AND engines:
    *  - init: the k vectors with the smallest md5(id-as-string) — a
    *    deterministic pseudo-random sample, planned as a distributed
    *    top-k (TakeOrdered), never a full sort;
    *  - assignment: per-row cosine argmax over k plan-time-literal
    *    centroids (ties to the larger index) — no join, no shuffle;
    *  - update: per-dimension means via exact DECIMAL(38,15) sums —
    *    order-independent, so no float-accumulation drift across
    *    partitionings — divided in double at the end.
    *
    * Per iteration one distributed agg runs; k×dims sum rows reach the
    * driver, corpus vectors never do. An empty cluster keeps its
    * previous centroid.
    *
    * Sizing: assignment ships k×dims literals inside the plan, so this
    * trainer targets moderate k (≤ a few thousand — the IVF sweet spot
    * for a single coarse quantizer level). For larger codebooks, train
    * hierarchically (this trainer per shard) or assign via the
    * broadcast-join path in `ivfTopK` instead of plan literals.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int = 2): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("_vid"),
      col(vecCol).cast("array<double>").as("_v"))
    var cents: IndexedSeq[Array[Double]] = vecs
      .orderBy(md5(col("_vid").cast("string")), col("_vid"))
      .limit(k)
      .select(col("_v")).collect()
      .map(_.getSeq[Double](0).toArray).toIndexedSeq

    // empty corpus → empty codebook (not a zero-arg greatest() crash)
    if (cents.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Seq[Double])].toDF("cent_id", "centroid")
    }

    for (_ <- 0 until iters) {
      val scored = cents.zipWithIndex.map { case (cv, ci) =>
        struct(cosine(col("_v"), array(cv.toSeq.map(lit): _*)).as("c"), lit(ci).as("ci"))
      }
      // greatest() needs ≥2 args; with a single centroid the argmax is 0
      val assigned =
        if (scored.length == 1) vecs.withColumn("_ci", lit(0))
        else vecs.withColumn("_ci", greatest(scored: _*).getField("ci"))
      val sums = assigned
        .select(col("_ci"), posexplode(col("_v")).as(Seq("_pos", "_val")))
        .groupBy(col("_ci"), col("_pos"))
        .agg(sum(col("_val").cast("decimal(38,15)")).cast("double").as("_s"),
          count(lit(1)).as("_n"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (prev, ci) =>
        sums.get(ci) match {
          case Some(rows) =>
            val arr = prev.clone()
            rows.foreach { r => arr(r.getInt(1)) = r.getDouble(2) / r.getLong(3) }
            arr
          case None => prev
        }
      }
    }
    import spark.implicits._
    cents.zipWithIndex.map { case (v, ci) => (ci.toLong, v.toSeq) }
      .toDF("cent_id", "centroid")
  }

  /** Hierarchical trainer for LARGE codebooks — the documented scale
    * path past `trainIvfCentroids`'s plan-literal ceiling (k ≤ a few
    * thousand): Lloyd-train `branch` coarse centroids with the literal
    * trainer, assign each corpus vector to its coarse cluster once,
    * then run Lloyd for ⌈k/branch⌉ LOCAL centroids inside every coarse
    * cluster SIMULTANEOUSLY — local centroids live in a (broadcast)
    * DataFrame keyed by (coarse, local), assignment is a broadcast
    * equi-join on the coarse key + hash-agg argmax, and the per-dim
    * DECIMAL mean update is one distributed aggregation over all
    * clusters at once. Total jobs: O(iters), independent of k.
    *
    * Deterministic like its base: md5-ordered init per cluster, exact
    * decimal sums, ties to the larger local index; empty locals keep
    * their previous centroid. Emits cent_id = coarse·perCluster+local,
    * so ivfTopK consumes the codebook unchanged.
    */
  def trainIvfCentroidsHierarchical(corpus: DataFrame, idCol: String, vecCol: String,
                                    k: Int, branch: Int = 64, iters: Int = 2): DataFrame = {
    require(k > 0 && branch > 0, "k and branch must be positive")
    if (k <= branch) return trainIvfCentroids(corpus, idCol, vecCol, k, iters)
    val perCluster = (k + branch - 1) / branch

    val vecs = corpus.select(col(idCol).as("_vid"),
      col(vecCol).cast("array<double>").as("_v"))

    // level 1: coarse codebook + one assignment pass (literal argmax)
    val coarse = trainIvfCentroids(corpus, idCol, vecCol, branch, iters)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val scored = coarse.map { case (ci, cv) =>
      struct(cosine(col("_v"), array(cv.toSeq.map(lit): _*)).as("c"), lit(ci.toInt).as("ci"))
    }
    val assigned = (if (scored.length == 1) vecs.withColumn("_coarse", lit(0))
      else vecs.withColumn("_coarse", greatest(scored.toSeq: _*).getField("ci")))
      .localCheckpoint() // one materialization; reread per iteration

    // level 2 init: the perCluster md5-smallest vectors of each cluster
    val initW = Window.partitionBy(col("_coarse"))
      .orderBy(md5(col("_vid").cast("string")), col("_vid"))
    var localCents: DataFrame = assigned
      .withColumn("_rank", row_number().over(initW))
      .where(col("_rank") <= perCluster)
      .select(col("_coarse"), (col("_rank") - 1).as("_local"), col("_v").as("_cv"))
      .localCheckpoint()

    for (_ <- 0 until iters) {
      // assignment: broadcast join on the coarse key, hash-agg argmax
      // over the cluster's locals (ties → larger local, like the base)
      val best = assigned.join(broadcast(localCents), "_coarse")
        .withColumn("_cos", cosine(col("_v"), col("_cv")))
        .groupBy(col("_vid"), col("_coarse"))
        .agg(max(struct(col("_cos"), col("_local"))).getField("_local").as("_local"))
      val members = assigned.join(best, Seq("_vid", "_coarse"))
      // mean update: one distributed agg over every (coarse, local, dim)
      val sums = members
        .select(col("_coarse"), col("_local"), posexplode(col("_v")).as(Seq("_pos", "_val")))
        .groupBy(col("_coarse"), col("_local"), col("_pos"))
        .agg((sum(col("_val").cast("decimal(38,15)")).cast("double") /
          count(lit(1)).cast("double")).as("_m"))
        .groupBy(col("_coarse"), col("_local"))
        .agg(array_sort(collect_list(struct(col("_pos"), col("_m"))))
          .getField("_m").as("_cv2"))
      localCents = localCents.join(sums, Seq("_coarse", "_local"), "left")
        .select(col("_coarse"), col("_local"),
          coalesce(col("_cv2"), col("_cv")).as("_cv")) // empty local keeps previous
        .localCheckpoint()
    }

    localCents.select(
      (col("_coarse").cast("long") * perCluster + col("_local")).as("cent_id"),
      col("_cv").as("centroid"))
  }

  /** Symmetric per-vector int8 quantization — the memory-scale path
    * for a 100 TB vector corpus: 4× smaller than float32, and the
    * quantized dot product runs on integers. scale = max|x| / 127;
    * q_i = ⌊x_i / scale + 0.5⌋ (round-half-up via floor — identical
    * arithmetic on every engine, unlike banker's-rounding builtins).
    * Zero vectors quantize to all-zero with scale 0.
    *
    * Adds `q_vec: array<int>` (int8 value range) and `q_scale`;
    * reconstruction is `q_i * q_scale`. Pure column expressions.
    */
  def quantizeInt8(df: DataFrame, vecCol: String,
                   qCol: String = "q_vec", scaleCol: String = "q_scale"): DataFrame = {
    // one-pass native kernel — the HOF formulation (transform·abs →
    // array_max → transform·floor) evaluates 4 interpreted lambda
    // layers per row
    val qz = graft.functions.VectorExpressions.vec_quantize(col(vecCol))
    df.withColumn("_qz", qz)
      .withColumn(qCol, col("_qz.q"))
      .withColumn(scaleCol, col("_qz.scale"))
      .drop("_qz")
  }

  /** Cosine over int8-quantized vectors: integer dot product scaled
    * back by both scales — the refine step a quantized ANN index runs
    * before (optionally) re-scoring survivors in full precision.
    */
  def quantizedCosine(qa: Column, sa: Column, qb: Column, sb: Column): Column = {
    def qnorm(q: Column, s: Column): Column =
      sqrt(aggregate(q, lit(0L), (acc, x) => acc + x.cast("long") * x.cast("long"))
        .cast("double")) * s
    val dotQ = aggregate(zip_with(qa, qb, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double") * sa * sb
    dotQ / (qnorm(qa, sa) * qnorm(qb, sb))
  }

  /** ANN via LSH buckets: exact cosine within the query's bucket(s).
    * Recall is bucket-limited (the classic LSH trade); `hamming = 1`
    * enables multi-probe — each query also searches every bucket one
    * bit-flip away (planes+1 buckets total), recovering neighbors that
    * fell just across a hyperplane. Only the TINY query side fans out
    * (probe buckets are distinct, so a corpus vector pairs with a
    * query at most once); the corpus keeps its single bucket key — at
    * 100 TB that is the side that matters.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 10, planes: Int = 8,
              hamming: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      norm(col(vecCol)).as("nn_norm"), lshBucket(col(vecCol), planes).as("bucket"))
    lshServe(c, queries, idCol, vecCol, k, planes, hamming)
  }

  /** [[lshTopK]] over a PERSISTED corpus bucket table — `buckets` is
    * the (idCol, bucket) table an [[AnnIndex]] directory stores, so a
    * fresh session serves without re-hashing the corpus. The corpus
    * supplies the vectors for the exact within-bucket rescoring via
    * an id equi-join (co-partition both by id in a production layout
    * and the join is exchange-free).
    */
  def lshTopKFromBuckets(corpus: DataFrame, buckets: DataFrame,
                         queries: DataFrame, idCol: String, vecCol: String,
                         k: Int = 10, planes: Int = 8,
                         hamming: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
        norm(col(vecCol)).as("nn_norm"))
      .join(buckets.select(col(idCol).as("nn_id"), col("bucket")), "nn_id")
    lshServe(c, queries, idCol, vecCol, k, planes, hamming)
  }

  /** Shared LSH serving tail: multi-probe query fan-out + bucket
    * equi-join + exact rescoring (`c` = (nn_id, nn_vec, nn_norm,
    * bucket)).
    */
  private def lshServe(c: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int, planes: Int,
                       hamming: Int): DataFrame = {
    require(hamming == 0 || hamming == 1, "hamming must be 0 (exact bucket) or 1 (multi-probe)")
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"), lshBucket(col(vecCol), planes).as("bucket"))
    val q =
      if (hamming == 0) qBase
      else {
        // the home bucket + every single-bit flip, as a generator over
        // the (small) query side
        val flips = (0 until planes).map { i =>
          concat(
            substring(col("bucket"), 1, i),
            when(substring(col("bucket"), i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
            substring(col("bucket"), i + 2, planes - i - 1))
        }
        qBase.select(col("query_id"), col("q_vec"), col("q_norm"),
          explode(array(col("bucket") +: flips: _*)).as("bucket"))
      }
    val pairs = c.join(broadcast(q), "bucket")
      .where(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_vec"), col("nn_vec")) / (col("q_norm") * col("nn_norm")))
    topKPerQuery(pairs, k)
  }

  // ── product quantization (Jégou, Douze & Schmid 2011) ───────────

  /** PQ codebooks: split the `dims`-dim space into `m` contiguous
    * subspaces of dims/m and Lloyd-train `k` centroids per subspace —
    * the SAME deterministic trainer ([[trainIvfCentroids]]) run on
    * the sliced corpus, so every determinism property (md5 init,
    * decimal sums, tie-to-larger-index) carries over. Driver cost is
    * m sequential trains = O(m·iters) jobs, bounded by configuration
    * like the trainer it wraps. Output: (sub, cent_id, centroid).
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       dims: Int, m: Int, k: Int, iters: Int = 2): DataFrame = {
    require(m > 0 && dims > 0 && dims % m == 0,
      s"dims ($dims) must split evenly into m ($m) subspaces")
    val w = dims / m
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("_vid"),
      col(vecCol).cast("array<double>").as("_v"))
    // init: the md5-first k rows seed EVERY subspace (the md5 order is
    // slice-independent, so this is exactly what m per-slice trainers
    // would pick) — then all m Lloyd problems advance in ONE
    // assignment job + ONE bounded sums collect per iteration:
    // O(iters) jobs independent of m, never m corpus scans
    val seed = vecs.orderBy(md5(col("_vid").cast("string")), col("_vid"))
      .limit(k).select(col("_v")).collect()
      .map(_.getSeq[Double](0).toArray)
    var cents: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(j => seed.toIndexedSeq.map(_.slice(j * w, j * w + w)))
    if (seed.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Seq[Double])].toDF("sub", "cent_id", "centroid")
    }
    for (_ <- 0 until iters) {
      val codeCols = (0 until m).map { j =>
        val sub = slice(col("_v"), j * w + 1, w)
        val scored = cents(j).zipWithIndex.map { case (cv, ci) =>
          struct(cosine(sub, array(cv.toSeq.map(lit): _*)).as("c"),
            lit(ci).as("ci"))
        }
        if (scored.length == 1) lit(0)
        else greatest(scored: _*).getField("ci")
      }
      val sums = vecs.withColumn("_codes", array(codeCols: _*))
        .select(col("_codes"), posexplode(col("_v")).as(Seq("_pos", "_val")))
        .withColumn("_sub", expr(s"CAST(_pos div $w AS INT)"))
        .withColumn("_ci", element_at(col("_codes"), col("_sub") + 1))
        .withColumn("_posw", expr(s"CAST(_pos % $w AS INT)"))
        .groupBy(col("_sub"), col("_ci"), col("_posw"))
        .agg(sum(col("_val").cast("decimal(38,15)")).cast("double").as("_s"),
          count(lit(1)).as("_n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = cents.zipWithIndex.map { case (sub, j) =>
        sub.zipWithIndex.map { case (prev, ci) =>
          sums.get((j, ci)) match {
            case Some(rows) =>
              val arr = prev.clone()
              rows.foreach { r => arr(r.getInt(2)) = r.getDouble(3) / r.getLong(4) }
              arr
            case None => prev
          }
        }
      }
    }
    import spark.implicits._
    // a corpus smaller than k seeds fewer centroids (the per-slice
    // trainer's behavior) — emit what was trained, never index past it
    (for (j <- 0 until m; ci <- cents(j).indices)
      yield (j.toLong, ci.toLong, cents(j)(ci).toSeq))
      .toDF("sub", "cent_id", "centroid")
  }

  /** PQ encoding: each vector compresses to `m` small codes — the
    * argmax-cosine centroid of each slice (tie to the larger index,
    * the trainer's assignment rule). The codebooks collect to
    * m×k×(dims/m) plan literals (bounded by configuration, the
    * [[trainIvfCentroids]] convention), so encoding is ONE map-side
    * pass with no join and no shuffle: at 100 TB the corpus streams
    * through once and writes `m` longs per row. Output: every input
    * column minus the vector, plus `codes: array<long>`.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame): DataFrame = {
    val books = codebooks.select(col("sub"), col("cent_id"), col("centroid"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (s, rows) =>
        s -> rows.map(r => r.getLong(1) -> r.getSeq[Double](2).toArray)
          .sortBy(_._1)
      }
    // empty codebooks (an empty training corpus) → empty result with
    // the output schema, not a crash — the degenerate-input contract
    if (books.isEmpty)
      return df.where(lit(false))
        .withColumn("codes", array().cast("array<long>")).drop(vecCol)
    val m = books.size
    // caller-supplied codebooks must look like trainPqCodebooks
    // output: contiguous subs 0..m-1, one uniform subspace width — a
    // descriptive failure instead of a bare map-lookup crash
    require(books.keySet == (0L until m.toLong).toSet,
      s"pqEncode: codebook subs must be contiguous 0..${m - 1}; got ${books.keySet.toSeq.sorted.mkString(",")}")
    val widths = books.values.flatMap(_.map(_._2.length)).toSet
    require(widths.size == 1,
      s"pqEncode: codebook centroids must share one subspace width; got $widths")
    val w = books(0L).head._2.length
    val codeCols = (0 until m).map { j =>
      val sub = slice(col(vecCol), j * w + 1, w)
      val scored = books(j.toLong).map { case (ci, cv) =>
        struct(cosine(sub, array(cv.toSeq.map(lit): _*)).as("c"),
          lit(ci).as("ci"))
      }
      val code =
        if (scored.length == 1) lit(0L)
        else greatest(scored.toSeq: _*).getField("ci")
      code.cast("long")
    }
    df.withColumn("codes", array(codeCols: _*)).drop(vecCol)
  }

  /** PQ asymmetric-distance top-k (ADC): score every corpus CODE
    * vector against full-precision queries without ever touching the
    * original corpus floats —
    *   cosine(q, v) ≈ Σⱼ ⟨q_j, c_codes[j]⟩ / (‖q‖ · sqrt(Σⱼ ‖c_codes[j]‖²))
    * The per-query lookup table (#queries × m × k rows: one dot
    * product per (query, subspace, centroid)) broadcasts; the encoded
    * corpus explodes to m rows per vector, equi-joins the LUT on
    * (sub, code), and a hash aggregate re-assembles per-(query,
    * vector) sums — n·m·|Q| tiny rows instead of n·|Q|·dims float
    * work, the PQ speed/size trade. Ranking reuses the salted
    * two-stage top-k funnel. Output: (query_id, rank, nn_id, cosine)
    * where cosine is the ADC approximation.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebooks: DataFrame, k: Int = 10): DataFrame =
    pqTopKEncoded(
      pqEncode(corpus.select(col(idCol), col(vecCol)), idCol, vecCol, codebooks),
      queries, idCol, vecCol, codebooks, k)

  /** [[pqTopK]] over a PRE-ENCODED corpus — `codes` is the persisted
    * [[pqEncode]] output (idCol, codes), e.g. reloaded from an
    * [[AnnIndex]] directory, so cold-start serving pays neither the
    * training nor the encode pass. The codebook must be the one the
    * codes were encoded with (AnnIndex persists them together).
    */
  def pqTopKEncoded(codes: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, codebooks: DataFrame,
                    k: Int = 10): DataFrame = {
    val enc = codes
      .select(col(idCol).as("nn_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .withColumn("sub", col("sub").cast("long"))
    // the codebook rides as m×k plan-literal structs (the trainer's
    // bounded-collect convention) exploded on the query side — an
    // equi-joinable LUT, never a multi-row nested-loop build side;
    // ‖c‖² folds driver-side left-to-right (the VecDot order)
    val books = codebooks.select(col("sub"), col("cent_id"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .sortBy(e => (e._1, e._2))
    // empty codebooks (empty training corpus) → empty ranked result
    // with the output schema, not a crash
    if (books.isEmpty)
      return queries.select(col(idCol).as("query_id")).where(lit(false))
        .select(col("query_id"), lit(0).as("rank"),
          col("query_id").as("nn_id"), lit(0.0).as("cosine"))
    val w = books.head._3.length
    val entries = books.map { case (s, ci, cv) =>
      struct(lit(s).as("sub"), lit(ci).as("code"),
        array(cv.toSeq.map(lit): _*).as("cv"),
        lit(cv.foldLeft(0.0)((acc, x) => acc + x * x)).as("cn2"))
    }
    val lut = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_q"),
          norm(col(vecCol)).as("_qn"))
        .withColumn("_e", explode(array(entries.toSeq: _*)))
        .select(col("query_id"), col("_qn"),
          col("_e.sub").as("sub"), col("_e.code").as("code"),
          dot(slice(col("_q"), (col("_e.sub") * w).cast("int") + 1, lit(w)),
            col("_e.cv")).as("_d"),
          col("_e.cn2").as("_cn2")))
    // the m-addend per-(query, vector) sums go through 12-dp decimal
    // (the zipfFit parity pattern) so they are exact — independent of
    // aggregation order, engine and partitioning
    val dec = "decimal(38,15)"
    val pairs = enc.join(lut, Seq("sub", "code"))
      .where(col("nn_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("nn_id"))
      .agg(sum(round(col("_d"), 12).cast(dec)).cast("double").as("_num"),
        sum(round(col("_cn2"), 12).cast(dec)).cast("double").as("_vn2"),
        first(col("_qn")).as("_qn"))
      .withColumn("cosine", col("_num") / (col("_qn") * sqrt(col("_vn2"))))
    topKPerQuery(pairs, k)
  }

  /** The standard two-stage PQ serving path: ADC ranks
    * `k × refineFactor` coarse candidates from the codes alone, then
    * ONLY those survivors re-score in full precision (an equi-join
    * back to the corpus floats — #queries × k × refineFactor rows,
    * never the corpus) and re-rank exactly. At 100 TB the float
    * re-read touches a bounded candidate set; everything corpus-sized
    * stays in code space. Output: (query_id, rank, nn_id, cosine)
    * with EXACT cosines.
    */
  def pqTopKRefined(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, codebooks: DataFrame, k: Int = 10,
                    refineFactor: Int = 3): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1: $refineFactor")
    val coarse = pqTopK(corpus, queries, idCol, vecCol, codebooks,
        k = k * refineFactor)
      .select(col("query_id"), col("nn_id"))
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("_nv"),
      norm(col(vecCol)).as("_nn"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv"), norm(col(vecCol)).as("_qn")))
    val pairs = coarse.join(c, "nn_id").join(q, "query_id")
      .withColumn("cosine",
        dot(col("_qv"), col("_nv")) / (col("_qn") * col("_nn")))
    topKPerQuery(pairs, k)
  }
}
