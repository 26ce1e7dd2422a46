package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.fts.{Bm25, FtsIndex}
import graft.ingest.Ingest
import graft.model.{CanonicalSchema, CanonicalFeature, ThemeMeta}
import graft.runtime.PipelineSession
import graft.session.{LoadHistory, SessionState}

/** The user-facing engine API — everything the reference app exposes,
  * Spark-shaped (reference entry points: controller.js loadArea,
  * pipelineRunner reactive loop, fts search fan-out, direct SQL
  * panels).
  *
  * Typical session:
  * {{{
  * val spark = graft.core.Engine.session() // the one builder; prepares the session
  * val g = new Graft(spark, stateDir = "/tmp/graft-state")
  * g.loadArea("/data/overture", Seq("places/place", "buildings/building"),
  *   bbox = Some(Ingest.BBox(-118.3, 34.0, -118.2, 34.1)))
  * val sess = g.pipeline()
  * sess.update(nodes = Seq(PipelineNode("p1", "source", "", "places_place", "places/place")))
  * val rows = sess.executeNow().get.collect()
  * g.search("cafe")                       // ranked multi-table FTS
  * g.sql("SELECT count(*) FROM places_place") // raw SQL over the views
  * }}}
  */
final class Graft(val spark: SparkSession, stateDir: String) {

  graft.core.Engine.prepare(spark)

  val sessionState = new SessionState(spark, stateDir)

  /** Load themes for an area: spatial file pruning → bbox-pushdown
    * scan → canonical materialization → view + FTS registration +
    * load-history row (reference loadArea, controller.js:119-146;
    * themes are loaded concurrently there — Spark schedules the jobs,
    * so sequential submission keeps the same wall-clock behavior with
    * deterministic error attribution).
    */
  def loadArea(
      baseDir: String,
      keys: Seq[String],
      bbox: Option[Ingest.BBox] = None,
      limit: Option[Int] = Some(33000)): Map[String, Ingest.LoadResult] =
    keys.map { key =>
      val res = Ingest.loadTheme(spark, baseDir, key, bbox, limit)
      if (ThemeMeta.themeMeta.get(key).exists(_.searchable))
        try FtsIndex.build(spark, res.table)
        catch { case _: Exception => () } // FTS is best-effort (fts.js:63-67)
      LoadHistory.append(spark, stateDir, LoadHistory.Entry(
        key, baseDir, bbox.map(b => s"[${b.xmin},${b.ymin},${b.xmax},${b.ymax}]").getOrElse(""),
        limit.map(_.toLong).getOrElse(-1L), cached = false,
        res.rowCount, res.fileCount, res.loadTimeMs))
      key -> res
    }.toMap

  def dropArea(keys: Seq[String]): Unit = keys.foreach { key =>
    FtsIndex.drop(spark, ThemeMeta.tableName(key))
    Ingest.dropTheme(spark, key)
  }

  /** A reactive pipeline session (debounce, memoization, FTS
    * fallback).
    */
  def pipeline(debounceMs: Long = 300): PipelineSession =
    new PipelineSession(spark, debounceMs)

  /** One-shot pipeline execution. */
  def runPipeline(nodes: Seq[PipelineNode], opts: Options = Options()): DataFrame =
    graft.compile.PipelineCompiler.run(spark, nodes, opts)

  /** Ranked multi-table search with per-table isolation (fts.js
    * fan-out): FTS-indexed tables score with BM25, the rest fall back
    * to ILIKE.
    */
  def search(query: String, tables: Seq[String] = Nil, limit: Int = 10): Seq[Row] = {
    val ts = if (tables.nonEmpty) tables else Ingest.listUserTables(spark)
    Bm25.searchAll(spark, ts, query, limit)
  }

  /** Direct SQL over the registered views (§3.3 — the sqlOverride /
    * SQL-panel surface).
    */
  def sql(text: String): DataFrame = spark.sql(text)

  /** Direct SQL in the DuckDB dialect: a reference-session override
    * runs unmodified — syntax deltas are rewritten by
    * [[graft.compile.DuckSqlShim]] and DuckDB function names resolve
    * via [[graft.functions.DuckFunctions]] (registered at session
    * prepare). See docs/sql-dialect.md for the covered surface.
    */
  def duckSql(text: String): DataFrame = {
    graft.functions.DuckFunctions.register(spark)
    // schema access enables the COLUMNS('regex') select-list expansion
    val resolve = (t: String) =>
      scala.util.Try(spark.table(t).columns.toSeq).toOption
    // data access enables the dynamic statement-form PIVOT (no IN
    // list): DuckDB enumerates the distinct non-NULL pivot values,
    // ordered by their string form, and names columns after them.
    // The probe is one bounded-collect DISTINCT (the shim caps the
    // width at MaxDynamicPivotValues) — the same enumeration DuckDB
    // itself performs before binding a dynamic pivot.
    val distinctVals = (source: String, column: String) => scala.util.Try {
      import org.apache.spark.sql.types._
      val probeSql = s"SELECT DISTINCT $column AS __pv FROM $source WHERE $column IS NOT NULL"
      val probe = spark.sql(graft.compile.DuckSqlShim.rewrite(probeSql, resolve))
        .orderBy(org.apache.spark.sql.functions.col("__pv").cast("string"))
        .limit(graft.compile.DuckSqlShim.MaxDynamicPivotValues + 1)
      val dt = probe.schema("__pv").dataType
      probe.collect().toSeq.map { r =>
        val s = String.valueOf(r.get(0))
        val lit = dt match {
          case _: NumericType | BooleanType => s
          case DateType                     => s"DATE '$s'"
          case _: TimestampType             => s"TIMESTAMP '$s'"
          case TimestampNTZType             => s"TIMESTAMP_NTZ '$s'"
          case _                            => "'" + s.replace("'", "''") + "'"
        }
        (lit, s)
      }
    }.toOption
    spark.sql(graft.compile.DuckSqlShim.rewrite(text, resolve, distinctVals))
  }

  /** SQL with Arrow results: the reference surfaces query results as
    * Arrow record batches to its consumers
    * (src/react/components/SqlQueryPanel.jsx:110-112); this is the
    * same contract — each returned chunk is a self-describing Arrow
    * IPC stream (schema + one record batch), serialized by Spark's own
    * Arrow writer (the PySpark `toArrow()` code path). Rebuild a
    * DataFrame from them with [[Graft.fromArrow]].
    */
  def sqlArrow(text: String, maxRecordsPerBatch: Long = 10000L): Array[Array[Byte]] =
    org.apache.spark.sql.graft.ArrowBridge.toArrowBatches(sql(text), maxRecordsPerBatch)

  /** Inverse of [[sqlArrow]] — Arrow IPC chunks back to a DataFrame. */
  def fromArrow(batches: Seq[Array[Byte]]): DataFrame =
    org.apache.spark.sql.graft.ArrowBridge.fromArrowBatches(spark, batches.iterator)

  /** Typed boundary: a loaded theme as Dataset[CanonicalFeature]. */
  def features(key: String): Dataset[CanonicalFeature] = {
    import spark.implicits._
    spark.table(ThemeMeta.tableName(key))
      .selectExpr(CanonicalSchema.baseColumnNames: _*)
      .as[CanonicalFeature]
  }

  def loadHistory: DataFrame = LoadHistory.read(spark, stateDir)

  // ── training-data pipeline extensions (ops.*) ──────────────────────

  /** Drop exact (or normalized-form) duplicate documents, keeping the
    * min-id canonical row per digest group.
    */
  def dedupExact(df: DataFrame, idCol: String, textCol: String,
                 normalized: Boolean = false): DataFrame =
    graft.ops.Dedup.dropExactDuplicates(df, idCol, textCol, normalized)

  /** Drop near-duplicate documents via MinHash+LSH candidate pairs at
    * `threshold` estimated Jaccard.
    */
  def dedupNear(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.5): DataFrame =
    graft.ops.Dedup.dropPairedDuplicates(df, idCol,
      graft.ops.Dedup.minhashLshPairs(df, idCol, textCol, threshold = threshold))

  /** Drop near-duplicates via shared winnowing fingerprints within
    * `blockCols` blocks — the rolling-hash alternative to MinHash
    * (cheaper pair generation: only window-selected hashes join).
    */
  def dedupWinnow(df: DataFrame, idCol: String, textCol: String,
                  blockCols: Seq[String], threshold: Double = 0.5): DataFrame =
    graft.ops.Dedup.dropPairedDuplicates(df, idCol,
      graft.ops.Dedup.winnowPairs(df, idCol, textCol, blockCols, threshold = threshold)
        .withColumnRenamed("fp_jaccard", "jaccard"))

  /** Cluster near-duplicate documents: MinHash+LSH pairs closed under
    * transitivity (connected components, pointer-jumping min-label),
    * so A~B, B~C lands A, B, C in ONE cluster with the min id as its
    * canonical representative — the corpus-level dedup a per-pair
    * drop cannot express. Returns (node, cluster) for every document
    * that appears in a pair.
    */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.5): DataFrame =
    graft.ops.Components.connectedComponents(
      graft.ops.Dedup.minhashLshPairs(df, idCol, textCol, threshold = threshold),
      "id_a", "id_b")

  /** SemDeDup semantic deduplication over an embedding column: train
    * `nlist` deterministic k-means centroids, compare pairs only
    * within a cluster, drop the larger id of each pair at cosine ≥
    * `threshold`. Approximate (cross-cluster near-dups are missed) —
    * the standard recall trade that bounds the quadratic comparison.
    */
  def dedupSemantic(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.9, nlist: Int = 64): DataFrame =
    graft.ops.Dedup.semDedupDrop(df, idCol, vecCol,
      graft.ops.Similarity.trainIvfCentroids(df, idCol, vecCol, nlist), threshold)

  /** Fuzzy entity resolution: blocked Jaro-Winkler pairs of
    * NON-identical names scoring at least `threshold` (byte-oriented,
    * DuckDB-score-identical kernel; prefix blocking, no all-pairs
    * path, no broadcast). `saltFactor > 1` splits a skewed block key
    * (e.g. a dominant corporate prefix) that many ways.
    */
  def dedupFuzzy(df: DataFrame, idCol: String, nameCol: String,
                 threshold: Double = 0.9, blockLen: Int = 2,
                 saltFactor: Int = 1): DataFrame =
    graft.ops.Dedup.fuzzyNamePairs(df, idCol, nameCol, threshold, blockLen, saltFactor)

  /** As-of join: for each left row, the single right row with the
    * largest `rightTs` ≤ `leftTs` per key (DuckDB's `ASOF JOIN`;
    * `forward = true` flips to smallest ≥). Union + tagged sort +
    * running-last window — one shuffle, no join node, no
    * candidate-pair blowup.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, forward: Boolean = false,
               tolerance: Option[org.apache.spark.sql.Column] = None,
               inner: Boolean = true): DataFrame =
    graft.ops.AsofJoin.asof(left, right, keys, leftTs, rightTs, forward,
      tolerance, inner)

  /** Interval-overlap join: pairs whose [start, end] ranges intersect
    * (inclusive), optionally per equi key. Bucketized hash join — the
    * raw inequality would plan as a nested-loop in Spark.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lStart: String, lEnd: String, rStart: String, rEnd: String,
                   keys: Seq[String] = Nil,
                   bucket: Long = 3600000000L): DataFrame =
    graft.ops.IntervalJoin.overlapJoin(left, right, lStart, lEnd, rStart, rEnd,
      keys, bucket)

  /** Exact cosine top-k neighbors (broadcast query set × corpus scan). */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 10): DataFrame =
    graft.ops.Similarity.bruteForceTopK(corpus, queries, idCol, vecCol, k)

  /** IVF ANN end-to-end: train `nlist` centroids (deterministic
    * k-means), then probe `nprobe` lists per query.
    */
  def annIvf(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String,
             k: Int = 10, nlist: Int = 64, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cents = graft.ops.Similarity.trainIvfCentroids(corpus, idCol, vecCol, nlist)
      .select(col("cent_id").as(idCol), col("centroid").as(vecCol))
    graft.ops.Similarity.ivfTopK(corpus, queries, cents, idCol, vecCol, k, nprobe)
  }

  /** Full text-analysis bundle: token counts, language ID, quality
    * ratios, fingerprint.
    */
  def annotateText(df: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.annotate(df, textCol)

  /** MOSS-style winnowing fingerprint set per document (rolling-hash
    * k-grams, window minima) — the plagiarism/near-dup selection key.
    */
  def winnow(df: DataFrame, textCol: String = "text",
             k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("winnow_fps",
      graft.ops.TextAnalysis.winnowFingerprints(col(textCol), k, w))
  }

  /** Gopher-style repetition quality stats (duplicate word / 2-gram /
    * 3-gram fractions, top-word share) as one fused-kernel struct
    * column — the duplicate-content pre-training filters.
    */
  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("rep_stats",
      graft.ops.TextAnalysis.repetitionStats(col(textCol)))
  }

  /** Benchmark decontamination: annotate each document with its
    * distinct word-n-gram overlap against an eval set (`n_hits`,
    * `contaminated`); `decontaminate` drops the flagged rows.
    */
  def contaminationCheck(docs: DataFrame, bench: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 3, minHits: Int = 1): DataFrame =
    graft.ops.Decontaminate.overlap(docs, bench, idCol, textCol, n, minHits)

  def decontaminate(docs: DataFrame, bench: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 3, minHits: Int = 1): DataFrame =
    graft.ops.Decontaminate.drop(docs, bench, idCol, textCol, n, minHits)

  /** Contamination matrix: per (corpus slice × benchmark slice)
    * contaminated-doc counts and rates, zero cells included.
    */
  def contaminationMatrix(docs: DataFrame, bench: DataFrame,
                          idCol: String = "doc_id",
                          docKeyCol: String = "source",
                          benchKeyCol: String = "bench_id",
                          textCol: String = "text",
                          n: Int = 3, minHits: Int = 1): DataFrame =
    graft.ops.Decontaminate.reportBySlice(docs, bench, idCol, docKeyCol,
      benchKeyCol, textCol, n, minHits)

  /** Exact per-key discrete quantiles (PERCENTILE_DISC semantics)
    * without a global sort, and the matching keep-at-or-below /
    * at-or-above filter.
    */
  def quantiles(df: DataFrame, keyCol: String, valueCol: String,
                qs: Seq[Double]): DataFrame =
    graft.ops.Quantiles.quantileByKey(df, keyCol, valueCol, qs)

  def quantileFilter(df: DataFrame, keyCol: String, valueCol: String,
                     q: Double, keepBelow: Boolean = true): DataFrame =
    graft.ops.Quantiles.quantileFilter(df, keyCol, valueCol, q, keepBelow)

  /** Exact-duplicate cluster-size histogram (n_clusters, n_docs,
    * n_excess_docs per cluster size), and its near-duplicate
    * companion over the MinHash-LSH duplicate graph's components.
    */
  def duplicationProfile(df: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.Dedup.duplicationProfile(df, textCol)

  def nearDupProfile(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 16, bands: Int = 4,
                     n: Int = 3, threshold: Double = 0.25): DataFrame =
    graft.ops.Dedup.nearDupProfile(df, idCol, textCol, k, bands, n, threshold)

  /** Per-slice distribution shift: unigram KL(slice ‖ corpus) in
    * nats, with slice token/vocab totals.
    */
  def divergenceReport(df: DataFrame, keyCol: String = "source",
                       textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.divergenceReport(df, keyCol, textCol)

  /** Deterministic (hash-threshold) sample — reproducible across
    * runs, engines and repartitioning; optional per-stratum rates.
    */
  def sample(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    graft.ops.Sampling.deterministicSample(df, idCol, fraction)

  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 1.0): DataFrame =
    graft.ops.Sampling.stratifiedSample(df, idCol, strataCol, fractions, defaultFraction)

  /** Frequency capping: keep at most `maxPerKey` rows per key (the
    * per-domain cap), deterministically as the smallest id-hashes —
    * salted two-stage top-k, bounded tasks under domain skew.
    */
  def sampleCapPerKey(df: DataFrame, keyCol: String, idCol: String,
                      maxPerKey: Int, saltBuckets: Int = 16): DataFrame =
    graft.ops.Sampling.capPerKey(df, keyCol, idCol, maxPerKey, saltBuckets)

  /** Disjoint deterministic train/val/test split column — every row
    * exactly one label, stable across runs/engines/repartitions.
    */
  def sampleSplit(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1),
                  restLabel: String = "test"): DataFrame =
    graft.ops.Sampling.splitAssign(df, idCol, splits, restLabel)

  /** Globally redact each (pattern → replacement) in order over a
    * text column; defaults to the PII set (email/URL/IP/phone).
    */
  def redact(df: DataFrame, textCol: String = "text",
             patterns: Seq[(String, String)] = graft.ops.TextAnalysis.PiiPatterns): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn(textCol, graft.ops.TextAnalysis.redact(col(textCol), patterns))
  }

  /** HTML → text extraction plus the Gopher-style markup screen
    * (text share, link density, line count) over a raw-HTML corpus —
    * the front door of a web-scale curation pipeline. One native
    * kernel pass per row, map-only.
    */
  def extractHtml(df: DataFrame, idCol: String = "doc_id",
                  htmlCol: String = "html"): DataFrame =
    graft.ops.TextAnalysis.extractHtmlTable(df, idCol, htmlCol)

  /** URL parse + normalize + registrable-domain screen — the
    * companion front-door op to [[extractHtml]]: the canonical
    * `norm_url` feeds URL-level exact dedup, `domain` feeds
    * per-domain caps ([[graft.ops.Sampling.capPerKey]] composition) and
    * blocklist joins, `path_depth`/`n_params` feed link-farm screens.
    * Map-only regexp/array expressions; contract in
    * [[graft.ops.TextAnalysis.urlTable]].
    */
  def parseUrls(df: DataFrame, idCol: String = "doc_id",
                urlCol: String = "url"): DataFrame =
    graft.ops.TextAnalysis.urlTable(df, idCol, urlCol)

  /** Cross-corpus (incremental-ingestion) near-dedup: MinHash+LSH
    * pairs of a new batch against an existing corpus — no self-join
    * of either side; `dedupCross` drops the batch's corpus-duplicate
    * docs.
    */
  def dedupCrossPairs(batch: DataFrame, corpus: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      threshold: Double = 0.5): DataFrame =
    graft.ops.Dedup.minhashLshPairsAcross(batch, corpus, idCol, textCol,
      threshold = threshold)

  def dedupCross(batch: DataFrame, corpus: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 threshold: Double = 0.5): DataFrame =
    graft.ops.Dedup.dropCrossDuplicates(batch, corpus, idCol, textCol,
      threshold = threshold)

  /** TF-IDF top-k characteristic terms per document (smoothed idf,
    * rank-stable 6-dp scores) — corpus keyword extraction.
    */
  def tfIdfTerms(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", k: Int = 5): DataFrame =
    graft.ops.TextAnalysis.tfIdfTopTerms(df, idCol, textCol, k)

  /** CCNet-style unigram LM self-perplexity per document (avg
    * negative log-likelihood in nats/token + ppl) — the classic
    * looks-like-the-corpus quality score.
    */
  def perplexity(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.lmPerplexity(df, idCol, textCol)

  /** Bigram interpolated LM perplexity (λ·bigram-MLE + (1−λ)·smoothed
    * unigram) — the stronger corpus-typicality score.
    */
  def perplexityBigram(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", lambda: Double = 0.75): DataFrame =
    graft.ops.TextAnalysis.bigramPerplexity(df, idCol, textCol, lambda)

  /** Interpolated Kneser–Ney bigram perplexity — the benchmark n-gram
    * smoothing (continuation probabilities instead of raw unigram
    * back-off); the strongest of the three LM quality scores.
    */
  def perplexityKneserNey(df: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          discount: Double = 0.75): DataFrame =
    graft.ops.TextAnalysis.knBigramPerplexity(df, idCol, textCol, discount)

  /** DSIR importance log-weights of raw docs toward a target domain
    * (hashed unigram+bigram buckets); `dsirSample` draws k docs
    * ∝ exp(log_weight) via deterministic Gumbel top-k.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  buckets: Int = 1024): DataFrame =
    graft.ops.TextAnalysis.dsirLogWeights(raw, target, idCol, textCol, buckets)

  def dsirSample(raw: DataFrame, target: DataFrame, k: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 buckets: Int = 1024): DataFrame =
    graft.ops.TextAnalysis.dsirResample(raw, target, idCol, textCol, k, buckets)

  /** Symmetric int8 quantization of an embedding column (adds q_vec +
    * q_scale) — the 4× memory-scale path for vector search.
    */
  def quantize(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.quantizeInt8(df, vecCol)

  /** Maximal cross-document duplicated token spans (substring-level
    * dedup) and its apply half (cut the spans, keep the docs).
    */
  def duplicateSpans(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = 5): DataFrame =
    graft.ops.Dedup.duplicateSpans(df, idCol, textCol, n)

  def removeDuplicateSpans(df: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", n: Int = 5): DataFrame =
    graft.ops.Dedup.removeDuplicateSpans(df, idCol, textCol, n)

  /** Cross-document duplicated LINES (the Falcon/RefinedWeb exact
    * line-dedup rule) and its apply half: cut every duplicated line
    * except in the document with the smallest id.
    */
  def duplicateLines(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    graft.ops.Dedup.duplicateLines(df, idCol, textCol)

  def removeDuplicateLines(df: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    graft.ops.Dedup.removeDuplicateLines(df, idCol, textCol)

  /** Sliding-window passage chunking (RAG/embedding prep). */
  def chunkPassages(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", chunkSize: Int = 64,
                    stride: Int = 48): DataFrame =
    graft.ops.TextAnalysis.chunkPassages(df, idCol, textCol, chunkSize, stride)

  /** Token-budget sampling / concat-and-split sequence packing. */
  def sampleTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                        budget: Long, keyCols: Seq[String] = Nil): DataFrame =
    graft.ops.Sampling.sampleTokenBudget(df, idCol, tokensCol, budget, keyCols)

  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Int, keyCols: Seq[String] = Nil): DataFrame =
    graft.ops.Sampling.packSequences(df, idCol, tokensCol, seqLen, keyCols)

  /** Packing-efficiency report: fill rate + document fragmentation
    * per candidate sequence length, off one shared prefix sum.
    */
  def packEfficiency(df: DataFrame, idCol: String, tokensCol: String,
                     seqLens: Seq[Int], keyCols: Seq[String] = Nil): DataFrame =
    graft.ops.Sampling.packEfficiencyReport(df, idCol, tokensCol, seqLens, keyCols)

  /** Curriculum ordering: deterministic easiest-first training order
    * (`curriculum_rank`) with NTILE-semantics `stage` buckets —
    * ROW_NUMBER/NTILE semantics without a global sort.
    */
  def curriculumOrder(df: DataFrame, idCol: String, difficultyCol: String,
                      stages: Int): DataFrame =
    graft.ops.Sampling.curriculumOrder(df, idCol, difficultyCol, stages)

  /** Classifier evaluation: per-decile reliability diagram +
    * AUC/Brier/accuracy over `ops.Classifier.score` output.
    */
  def classifierCalibration(scored: DataFrame, buckets: Int = 10): DataFrame =
    graft.ops.Classifier.evalReport(scored, buckets)

  /** Source-mixture planning (largest exact-proportion corpus with no
    * upsampling) and its deterministic Bernoulli draw.
    */
  def mixturePlan(df: DataFrame, keyCol: String, tokensCol: String,
                  target: Seq[(String, Double)]): DataFrame =
    graft.ops.Sampling.mixtureWeights(df, keyCol, tokensCol, target)

  def mixtureDraw(df: DataFrame, idCol: String, keyCol: String,
                  tokensCol: String, target: Seq[(String, Double)]): DataFrame =
    graft.ops.Sampling.mixtureSample(df, idCol, keyCol, tokensCol, target)

  /** Temperature-smoothed mixture plan: q_k ∝ p_k^α (α<1 upweights
    * tail sources) with per-key take/rate for a token budget.
    */
  def mixtureTemperature(df: DataFrame, keyCol: String, tokensCol: String,
                         alpha: Double, totalTokens: Long): DataFrame =
    graft.ops.Sampling.mixtureTemperature(df, keyCol, tokensCol, alpha, totalTokens)

  /** Data-constrained epoch planning: distribute a token budget at
    * the target mixture with at most `maxEpochs` repeats per key;
    * capped keys freeze and the rest water-fill (closed form).
    */
  def epochPlan(df: DataFrame, keyCol: String, tokensCol: String,
                target: Seq[(String, Double)], budgetTokens: Long,
                maxEpochs: Double): DataFrame =
    graft.ops.Sampling.epochPlan(df, keyCol, tokensCol, target,
      budgetTokens, maxEpochs)

  /** Source-pair similarity report: exact shingle-set Jaccard next to
    * the k-seed minhash estimate for every overlapping key pair.
    */
  def sourceSimilarity(df: DataFrame, keyCol: String, textCol: String,
                       k: Int = 16, n: Int = 3): DataFrame =
    graft.ops.Dedup.sourceSimilarity(df, keyCol, textCol, k, n)

  /** Quality-aware canonical selection over a near-dup pair set:
    * per duplicate cluster keep the (scoreCol DESC, id ASC) best row.
    */
  def dedupCanonicalByScore(df: DataFrame, idCol: String, scoreCol: String,
                            pairs: DataFrame): DataFrame =
    graft.ops.Dedup.canonicalByScore(df, idCol, scoreCol, pairs)

  /** Gopher-rule quality filter with per-rule audit booleans
    * (annotates — filter on `keep`).
    */
  def gopherFilter(df: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.gopherFilter(df, textCol)

  /** First-occurrence n-gram novelty scoring. */
  def noveltyScore(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 3): DataFrame =
    graft.ops.TextAnalysis.noveltyScore(df, idCol, textCol, n)

  /** Corpus reports: per-group length percentiles / vocabulary stats. */
  def lengthStats(df: DataFrame, keyCol: String,
                  textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.lengthStats(df, keyCol, textCol)

  def vocabReport(df: DataFrame, textCol: String = "text",
                  k: Int = 10): DataFrame =
    graft.ops.TextAnalysis.vocabReport(df, textCol, k)

  /** Leakage-safe split: near-duplicate clusters (from `pairs`) are
    * assigned to train/val/test as a unit.
    */
  def sampleSplitLeakageSafe(df: DataFrame, idCol: String, pairs: DataFrame,
                             splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1),
                             restLabel: String = "test"): DataFrame =
    graft.ops.Sampling.splitAssignByCluster(df, idCol, pairs,
      splits = splits, restLabel = restLabel)

  /** One-row curation funnel report: doc/token survival through
    * quality → exact dedup → decontamination, in one corpus pass.
    */
  def curationFunnel(docs: DataFrame, bench: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.curationFunnel(docs, bench, idCol, textCol)

  /** Per-group funnel: one survival row per `keyCol` value. */
  def curationFunnelBy(docs: DataFrame, bench: DataFrame, keyCol: String,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.curationFunnelBy(docs, bench, keyCol, idCol, textCol)

  /** Hybrid lexical+dense retrieval: BM25 ∪ cosine top-k fused by
    * reciprocal rank.
    */
  def searchHybrid(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                   queryVec: DataFrame, k: Int = 10): DataFrame =
    graft.ops.Retrieval.hybridTopK(docs, emb, queryTerms, queryVec, k = k)

  /** LSH calibration report: estimate-vs-exact Jaccard per estimate
    * bucket over the candidate pairs — picks bands/threshold for a
    * production dedup run.
    */
  def dedupLshCalibration(df: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame =
    graft.ops.Dedup.lshCalibration(df, idCol, textCol, k, bands, n)

  /** BM25 as train-offline / score-the-stream: one-row model of the
    * corpus statistics, then stateless per-row scoring (works on
    * batch and streaming DataFrames alike).
    */
  def bm25Train(docs: DataFrame, terms: Seq[String],
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.Retrieval.bm25Model(docs, idCol, textCol, terms)

  def bm25Score(docs: DataFrame, model: DataFrame,
                textCol: String = "text"): DataFrame =
    graft.ops.Retrieval.scoreWithBm25Model(docs, model, textCol)

  /** BPE: train merge rules on the corpus / apply them as subword
    * segmentation (adds a `subwords` array column).
    */
  def bpeTrain(df: DataFrame, textCol: String = "text",
               merges: Int = 8, minPairCount: Long = 2L): DataFrame =
    graft.ops.Bpe.trainMerges(df, textCol, merges, minPairCount)

  /** Tokenizer fertility report (subwords/word, chars/subword) per
    * corpus slice under a trained merge list.
    */
  def bpeFertility(df: DataFrame, keyCol: String, textCol: String,
                   mergeRules: Seq[(String, String)]): DataFrame =
    graft.ops.Bpe.fertilityReport(df, keyCol, textCol, mergeRules)

  def bpeEncode(df: DataFrame, mergeRules: Seq[(String, String)],
                textCol: String = "text"): DataFrame =
    df.withColumn("subwords",
      graft.ops.Bpe.encodeSubwords(org.apache.spark.sql.functions.col(textCol),
        mergeRules))

  /** Embedding-space decontamination: nearest-benchmark cosine per
    * corpus row (`bench_id`, `bench_cosine`, `contaminated`) — the
    * paraphrase-leakage screen the n-gram test misses.
    */
  def contaminationSemantic(docs: DataFrame, bench: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            threshold: Double = 0.9): DataFrame =
    graft.ops.Decontaminate.semanticOverlap(docs, bench, idCol, vecCol, threshold)

  /** Drop rows whose nearest benchmark vector scores ≥ threshold. */
  def decontaminateSemantic(docs: DataFrame, bench: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            threshold: Double = 0.9): DataFrame =
    graft.ops.Decontaminate.semanticDrop(docs, bench, idCol, vecCol, threshold)

  /** Hard-negative mining: per query vector, the top-k most-similar
    * corpus vectors with a different label.
    */
  def mineHardNegatives(corpus: DataFrame, queries: DataFrame,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        labelCol: String = "label", k: Int = 10): DataFrame =
    graft.ops.Similarity.hardNegativesTopK(corpus, queries, idCol, vecCol, labelCol, k)

  /** k-NN label-purity report per label over a bounded probe set —
    * the embedding-space label-noise screen.
    */
  def knnLabelPurity(corpus: DataFrame, probes: DataFrame,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     labelCol: String = "label", k: Int = 10): DataFrame =
    graft.ops.Similarity.knnLabelPurity(corpus, probes, idCol, vecCol, labelCol, k)

  /** Cluster-balanced diversity sampling: nearest-centroid assignment
    * plus a deterministic per-cluster cap.
    */
  def sampleClusterBalanced(df: DataFrame, centroids: DataFrame,
                            maxPerCluster: Int, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    graft.ops.Sampling.clusterBalancedSample(df, idCol, vecCol, centroids, maxPerCluster)

  /** Per-key quantile bucketing (CCNet head/middle/tail split). */
  def bucketByQuantile(df: DataFrame, keyCol: String, valueCol: String,
                       qs: Seq[Double], bucketCol: String = "bucket"): DataFrame =
    graft.ops.Quantiles.bucketByKey(df, keyCol, valueCol, qs, bucketCol)

  /** Zipf-law fit of the corpus unigram distribution — slope /
    * intercept of ln(freq) on ln(rank) over the vocabulary.
    */
  def zipfFit(df: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.zipfFit(df, textCol)

  /** Apply an epoch plan: materialize per-key repeat factors as
    * deterministic training copies (the data-loader schedule).
    */
  def epochApply(docs: DataFrame, plan: DataFrame, idCol: String = "doc_id",
                 keyCol: String = "source"): DataFrame =
    graft.ops.Sampling.epochApply(docs, plan, idCol, keyCol)

  /** Per-key z-score ensemble of integer quality signals into one
    * blended scalar.
    */
  def qualityBlend(df: DataFrame, keyCol: String, signalCols: Seq[String],
                   blendCol: String = "quality_blend"): DataFrame =
    graft.ops.Classifier.zscoreBlend(df, keyCol, signalCols, blendCol)

  /** Embedding-drift report: per-label centroid vs the global corpus
    * centroid, as a cosine.
    */
  def embeddingDrift(df: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.embeddingDriftReport(df, labelCol, vecCol)

  /** Keep the n best rows per key by score (top-quality-per-domain
    * selection).
    */
  def sampleTopPerKey(df: DataFrame, keyCol: String, scoreCol: String,
                      n: Int, idCol: String = "doc_id"): DataFrame =
    graft.ops.Sampling.topPerKey(df, keyCol, idCol, scoreCol, n)

  /** Length-bucketed inference batching: similar lengths share a
    * batch, numbered deterministically within their bucket.
    */
  def sampleLengthBatches(df: DataFrame, lengthCol: String, batchSize: Int,
                          bucketWidth: Int = 16,
                          idCol: String = "doc_id"): DataFrame =
    graft.ops.Sampling.lengthBatches(df, idCol, lengthCol, batchSize, bucketWidth)

  /** ANN recall@k evaluation: IVF vs the exact brute-force ground
    * truth on a bounded query set.
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding",
                k: Int = 10, nprobe: Int = 2): DataFrame =
    graft.ops.Similarity.annRecallReport(corpus, queries, centroids, idCol, vecCol, k, nprobe)

  /** Balanced shard assignment: serpentine deal over the
    * heaviest-first rank — near-equal-weight training shards without
    * bin-packing state or a global sort.
    */
  def sampleSnakeShards(df: DataFrame, weightCol: String, nShards: Int,
                        bandWidth: Int = 16,
                        idCol: String = "doc_id"): DataFrame =
    graft.ops.Sampling.snakeShards(df, idCol, weightCol, nShards, bandWidth)

  /** [[sampleSnakeShards]] + write: one parquet directory per shard
    * (`shard=K/`), each holding a near-equal share of the total
    * weight — the training-shard writer. The shard column is an
    * annotation, so the write shuffles nothing extra: rows flow from
    * the rank join straight into the partitioned sink.
    */
  def writeShards(df: DataFrame, path: String, weightCol: String,
                  nShards: Int, bandWidth: Int = 16,
                  idCol: String = "doc_id"): Unit =
    graft.ops.Sampling.snakeShards(df, idCol, weightCol, nShards, bandWidth)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Top-k adjacent-pair collocations by pointwise mutual
    * information (Church & Hanks 1990).
    */
  def textPmiCollocations(df: DataFrame, textCol: String = "text",
                          minCount: Int = 5, k: Int = 20): DataFrame =
    graft.ops.TextAnalysis.pmiCollocations(df, textCol, minCount, k)

  /** Product-quantization codebooks: m subspaces × k Lloyd-trained
    * centroids (deterministic, the IVF trainer per slice).
    */
  def annPqTrain(corpus: DataFrame, dims: Int, m: Int, k: Int,
                 iters: Int = 2, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.trainPqCodebooks(corpus, idCol, vecCol, dims, m, k, iters)

  /** PQ encoding: compress each vector to m codes in one map-side
    * pass (no join, no shuffle).
    */
  def annPqEncode(df: DataFrame, codebooks: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.pqEncode(df, idCol, vecCol, codebooks)

  /** PQ asymmetric-distance top-k: score encoded corpus codes against
    * full-precision queries via a broadcast lookup table.
    */
  def annPqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
                k: Int = 10, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.pqTopK(corpus, queries, idCol, vecCol, codebooks, k)

  /** Two-stage PQ serving: ADC coarse candidates, exact re-rank of
    * only the k×refineFactor survivors.
    */
  def annPqRefineTopK(corpus: DataFrame, queries: DataFrame,
                      codebooks: DataFrame, k: Int = 10,
                      refineFactor: Int = 3, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.pqTopKRefined(corpus, queries, idCol, vecCol,
      codebooks, k, refineFactor)

  /** Persist a corpus's MinHash signature index — the accumulated
    * state [[dedupIncrement]] dedups each new shard against.
    */
  def dedupIndexWrite(df: DataFrame, path: String, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 16, n: Int = 3,
                      append: Boolean = false): Unit =
    graft.ops.Dedup.writeMinhashIndex(df, idCol, textCol, path, k, n, append)

  /** Deduplicate a new shard against a persisted signature index
    * without re-scanning the corpus; appends the shard's own
    * signatures so the next ingest needs no maintenance step.
    */
  def dedupIncrement(inc: DataFrame, indexPath: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     k: Int = 16, bands: Int = 4, n: Int = 3,
                     threshold: Double = 0.5,
                     appendSignatures: Boolean = true): DataFrame =
    graft.ops.Dedup.dedupIncrement(inc, idCol, textCol, indexPath, k, bands,
      n, threshold, appendSignatures)

  /** Persist a corpus's exact-dup digest index — one of the
    * persisted index families of [[graft.ops.IncrementalIndex]], for
    * seen-forever digest sets too large for a streaming state store.
    */
  def digestIndexWrite(df: DataFrame, path: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       normalized: Boolean = false,
                       append: Boolean = false): Unit =
    graft.ops.Dedup.writeDigestIndex(df, idCol, textCol, path, normalized, append)

  /** Exact-dedup a new shard against a persisted digest index without
    * re-reading the corpus; appends the shard's digests.
    */
  def dedupExactIncrement(inc: DataFrame, indexPath: String,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          normalized: Boolean = false,
                          appendDigests: Boolean = true): DataFrame =
    graft.ops.Dedup.dedupExactIncrement(inc, idCol, textCol, indexPath,
      normalized, appendDigests)

  def digestIndexCompact(path: String, parts: Int = 32): Unit =
    graft.ops.IncrementalIndex.Digest.compact(spark, path, parts)

  /** The composed production ingest step — quality gate ∘ exact
    * dedup ∘ Bloom-stage decontamination ∘ near-dup dedup ∘ span cut
    * (each dedup against its persisted index) — over one arriving
    * shard.
    */
  def curateIngestShard(shard: DataFrame, bench: DataFrame,
                        digestIndexPath: String, minhashIndexPath: String,
                        spanIndexPath: String): DataFrame =
    graft.ops.IngestPipeline.ingestShard(shard, bench, digestIndexPath,
      minhashIndexPath, spanIndexPath)

  /** Persist a corpus's span-gram index — the accumulated state
    * [[dedupSpansIncrement]] cuts each new shard's duplicated
    * substrings against.
    */
  def spanIndexWrite(df: DataFrame, path: String, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = 8,
                     append: Boolean = false): Unit =
    graft.ops.Dedup.writeSpanGramIndex(df, idCol, textCol, path, n, append)

  /** Cut duplicated token spans out of a new shard against a
    * persisted gram index without re-hashing the corpus; appends the
    * shard's own grams so the next ingest needs no maintenance step.
    */
  def dedupSpansIncrement(inc: DataFrame, indexPath: String,
                          idCol: String = "doc_id",
                          textCol: String = "text", n: Int = 8,
                          crossDocOnly: Boolean = true,
                          appendGrams: Boolean = true): DataFrame =
    graft.ops.Dedup.removeDuplicateSpansIncrement(inc, idCol, textCol,
      indexPath, n, crossDocOnly, appendGrams)

  /** Persist a corpus's line index — the accumulated state
    * [[dedupLinesIncrement]] cuts each new shard's duplicated lines
    * against.
    */
  def lineIndexWrite(df: DataFrame, path: String, idCol: String = "doc_id",
                     textCol: String = "text",
                     append: Boolean = false): Unit =
    graft.ops.Dedup.writeLineIndex(df, idCol, textCol, path, append)

  /** Cut duplicated lines out of a new shard against a persisted
    * line index without re-reading the corpus; appends the shard's
    * own line hashes so the next ingest needs no maintenance step.
    */
  def dedupLinesIncrement(inc: DataFrame, indexPath: String,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          appendLines: Boolean = true): DataFrame =
    graft.ops.Dedup.removeDuplicateLinesIncrement(inc, idCol, textCol,
      indexPath, appendLines)

  def lineIndexCompact(path: String, parts: Int = 32): Unit =
    graft.ops.IncrementalIndex.Line.compact(spark, path, parts)

  /** Train and persist every ANN serving artifact (IVF centroids, PQ
    * codebooks + codes, LSH buckets) to one parquet directory — the
    * cold-start index a fresh session serves from bit-identically.
    */
  def annIndexBuild(corpus: DataFrame, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    dims: Int = 64, ivfK: Int = 256, pqM: Int = 4,
                    pqK: Int = 4, planes: Int = 8, iters: Int = 2): Unit =
    graft.ops.AnnIndex.build(corpus, idCol, vecCol, path, dims, ivfK, pqM,
      pqK, planes, iters)

  /** Ingest a new shard into an [[annIndexBuild]] directory with
    * FROZEN codebooks (no retraining, no touch of indexed rows) —
    * the production index-maintenance shape.
    */
  def annIndexAppend(inc: DataFrame, path: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit =
    graft.ops.AnnIndex.append(inc, idCol, vecCol, path)

  /** Small-files maintenance for the persisted-index families of
    * [[graft.ops.IncrementalIndex]] (this, [[spanIndexCompact]],
    * [[digestIndexCompact]], [[lineIndexCompact]]) and the ANN index:
    * a manifest-committed rewrite of the hash-prefix partitions that
    * accumulated multiple append commits (dirty-only — proportional
    * to the uncompacted fraction, no swap window, appends interleave
    * safely; the min_doc families also merge per-key minima).
    */
  def dedupIndexCompact(path: String, parts: Int = 32): Unit =
    graft.ops.IncrementalIndex.Minhash.compact(spark, path, parts)

  def spanIndexCompact(path: String, parts: Int = 32): Unit =
    graft.ops.IncrementalIndex.Span.compact(spark, path, parts)

  def annIndexCompact(path: String, parts: Int = 32): Unit =
    graft.ops.AnnIndex.compact(spark, path, parts)

  /** Manifest-only fragmentation summary of a persisted index
    * (a [[graft.ops.IncrementalIndex]] store directory) — leaves per
    * prefix, dirty fraction, tag count: the numbers that decide
    * whether a `*IndexCompact` pass is worth scheduling. None for a
    * path with no committed manifest. Safe on every ingest tick (no
    * data file is opened). An ANN index ROOT keeps its two manifests
    * under `pq_codes`/`lsh_buckets` — query it with [[annIndexStats]]
    * (this call on the root returns None).
    */
  def indexStats(path: String): Option[graft.ops.IndexStore.Stats] =
    graft.ops.IndexStore.stats(spark, path)

  /** [[indexStats]] for an ANN index ROOT (an [[annIndexBuild]]
    * directory): the fragmentation of both growing sub-stores, keyed
    * the same way [[annIndexCompact]] is.
    */
  def annIndexStats(path: String): Option[graft.ops.AnnIndex.Stats] =
    graft.ops.AnnIndex.stats(spark, path)

  /** N-gram decontamination through a Bloom-filter candidate stage —
    * exactly [[contaminationCheck]]'s verdicts (the exact join kills
    * every false positive), for eval suites whose gram set outgrows
    * the broadcast envelope.
    */
  def contaminationBloom(docs: DataFrame, bench: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 3,
                         minHits: Int = 1,
                         expectedGrams: Long = 1L << 20,
                         fpp: Double = 0.03): DataFrame =
    graft.ops.Decontaminate.overlapBloom(docs, bench, idCol, textCol, n,
      minHits, expectedGrams, fpp)

  /** The apply step of [[contaminationBloom]]. */
  def decontaminateBloom(docs: DataFrame, bench: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 3,
                         minHits: Int = 1,
                         expectedGrams: Long = 1L << 20,
                         fpp: Double = 0.03): DataFrame =
    graft.ops.Decontaminate.dropBloom(docs, bench, idCol, textCol, n,
      minHits, expectedGrams, fpp)

  /** PQ ADC top-k over a PRE-ENCODED corpus (codes reloaded from an
    * [[annIndexBuild]] directory) — cold-start serving pays neither
    * training nor the encode pass.
    */
  def annPqTopKEncoded(codes: DataFrame, queries: DataFrame,
                       codebooks: DataFrame, k: Int = 10,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.pqTopKEncoded(codes, queries, idCol, vecCol,
      codebooks, k)

  /** LSH top-k over a persisted corpus bucket table (reloaded from an
    * [[annIndexBuild]] directory).
    */
  def annLshTopKFromBuckets(corpus: DataFrame, buckets: DataFrame,
                            queries: DataFrame, k: Int = 10,
                            planes: Int = 8, hamming: Int = 0,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    graft.ops.Similarity.lshTopKFromBuckets(corpus, buckets, queries, idCol,
      vecCol, k, planes, hamming)

  /** Deterministic proportional source interleaving (stride
    * scheduling): annotate each row with the virtual-time key whose
    * sort order realizes a weighted mixture without random draws.
    */
  def sampleInterleaveOrder(df: DataFrame, keyCol: String, weights: DataFrame,
                            weightCol: String = "q_temp",
                            idCol: String = "doc_id"): DataFrame =
    graft.ops.Sampling.interleaveOrder(df, idCol, keyCol, weights, weightCol)

  /** Per-key out-of-vocabulary rate against the corpus top-V unigram
    * vocabulary (fixed-tokenizer domain-coverage screen).
    */
  def reportOovBySource(df: DataFrame, keyCol: String = "source",
                        textCol: String = "text",
                        vocabSize: Int = 10): DataFrame =
    graft.ops.TextAnalysis.oovBySource(df, keyCol, textCol, vocabSize)

  /** Export a registered table to parquet, optionally z-order
    * clustered on its centroid columns for spatially-pruned reads.
    */
  def exportTable(table: String, path: String,
                  zorderPartitions: Option[Int] = None): Unit =
    Ingest.exportTheme(spark, table, path, zorderPartitions)
}
