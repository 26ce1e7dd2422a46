package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ops.{Sampling, TextAnalysis}

/** Streaming corpus curation: the batch training-data operators
  * composed over a document stream. Every stage is STATELESS
  * (deterministic hash-sample filter, fused token/quality kernel,
  * language-ID kernel), so the pipeline needs no watermark, holds no
  * state, and produces byte-identical results to its batch form — the
  * property the spec asserts. This is the shape of a continuous
  * ingestion pipeline: documents land as parquet, and the curated,
  * annotated subset streams out.
  */
object CurationStreams {

  /** The shared (batch ≡ streaming) curation transform: deterministic
    * sample at `fraction`, quality gate at `minTokens`, annotation
    * with token stats + language.
    */
  def curate(docs: DataFrame, fraction: Double, minTokens: Long): DataFrame =
    Sampling.deterministicSample(docs, "doc_id", fraction)
      .withColumn("_ts", TextAnalysis.tokenStats(col("text")))
      .where(col("_ts.n_tokens") >= minTokens)
      .select(col("doc_id"),
        col("_ts.n_tokens").as("n_tokens"),
        col("_ts.q_distinct_ratio").as("q_distinct_ratio"),
        TextAnalysis.langId(col("text")).as("lang_pred"))

  /** Start the streaming variant from a parquet directory source into
    * a named memory sink.
    */
  def startCurationStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, fraction: Double = 0.5,
      minTokens: Long = 5): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    curate(src, fraction, minTokens).writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Offline half of streaming LM scoring: collapse a training corpus
    * to a ONE-ROW model table — a term → ln p map (add-one unigram,
    * ln p = ln((cnt+1)/(T+V))) plus the unseen-token log-probability
    * ln(1/(T+V)). The map keeps only the `maxVocab` most frequent
    * terms (ties broken lexicographically, via a bounded
    * TakeOrderedAndProject); everything beyond the cap scores as
    * `lp_unseen`, the same CCNet-style pruning a production model
    * ships with. The cap is what makes the one-row shape honest at
    * corpus scale: an uncapped web-corpus vocabulary (10⁸+ terms)
    * would blow Spark's single-value and broadcast limits, while the
    * capped row is bounded by `maxVocab` regardless of corpus size.
    * The smoothing totals T and V are still measured over the FULL
    * vocabulary, so kept-term probabilities are unchanged by pruning.
    */
  def trainUnigramModel(corpus: DataFrame, textCol: String = "text",
                        maxVocab: Int = 100000): DataFrame = {
    val cnt = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum("cnt").as("t_total"), count(lit(1)).as("v_size"))
    val kept = cnt.orderBy(col("cnt").desc, col("term")).limit(maxVocab)
    kept.crossJoin(broadcast(tot))
      .withColumn("lp", log((col("cnt") + lit(1.0)) / (col("t_total") + col("v_size"))))
      .agg(
        map_from_entries(collect_list(struct(col("term"), col("lp")))).as("lp_map"),
        first(log(lit(1.0) / (col("t_total") + col("v_size")))).as("lp_unseen"))
  }

  /** Online half: score documents against the trained model — the
    * production deployment shape of [[graft.ops.TextAnalysis.lmPerplexity]]
    * (train offline on a trusted corpus, score the ingest stream).
    * The model row broadcasts into a stream-static cross join and the
    * fold over the token array is a per-row expression, so the stage
    * is STATELESS: Append mode, no watermark, no state store, and
    * batch ≡ streaming byte-identically. Works identically on a batch
    * DataFrame.
    *
    * Scoring ANNOTATES, it never filters: zero-token documents pass
    * through with null `avg_nll`/`ppl` (a perplexity over no tokens
    * is undefined), so a scorer dropped into an ingest pipeline
    * preserves the row set and callers choose what to filter.
    */
  def scoreWithModel(docs: DataFrame, model: DataFrame,
                     textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // map access via extraction syntax, NOT element_at: that name
    // resolves through the session registry to the DuckDB-list shim
    val slp = aggregate(toks, lit(0.0d),
      (acc, t) => acc + coalesce(col("lp_map")(t), col("lp_unseen")))
    val scored = when(col("n_tokens") > 0, round(-slp / col("n_tokens"), 6))
    docs.crossJoin(broadcast(model))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_nll", scored)
      .withColumn("ppl", when(col("n_tokens") > 0,
        round(exp(-slp / col("n_tokens")), 6)))
      .drop("lp_map", "lp_unseen")
  }

  /** Start a benchmark-decontamination ingest stream: every arriving
    * document annotated with its eval-set n-gram overlap
    * (`n_hits`/`contaminated`) against a pre-collapsed one-row gram
    * set ([[graft.ops.Decontaminate.benchGramRow]]) — the stream-side
    * twin of the batch inverted-index join, stateless by construction.
    */
  def startDecontaminatedStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, gramRow: DataFrame,
      n: Int = 3, minHits: Int = 1): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    graft.ops.Decontaminate.overlapWithGramRow(src, gramRow, "text", n, minHits)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Start a BM25-scored ingest stream: every arriving document
    * annotated with its relevance to a fixed query against a
    * pre-trained [[graft.ops.Retrieval.bm25Model]] one-row model —
    * the streaming twin of [[graft.ops.Retrieval.bm25Scores]]
    * (stateless per-row expression over the broadcast model, Append
    * mode, batch ≡ streaming).
    */
  def startBm25ScoredStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, model: DataFrame): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    graft.ops.Retrieval.scoreWithBm25Model(src, model).writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Start a scored ingest stream from a parquet directory source into
    * a named memory sink.
    */
  def startScoredStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, model: DataFrame): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    scoreWithModel(src, model).writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Row type for the stateful dedup stream. */
  final case class DedupDoc(doc_id: Long, text: String, source: String)

  /** Stateful streaming exact dedup — the ONE curation stage that
    * genuinely needs state across micro-batches: emit a document only
    * the first time its content digest is seen, for the life of the
    * stream. State per digest is a single boolean
    * (flatMapGroupsWithState, no timeout: seen-forever semantics);
    * the group key is the md5 hex of the raw text, never the text
    * itself, so the state store holds 32 bytes per DISTINCT document
    * regardless of corpus size.
    *
    * Keeper rule: within a micro-batch the lowest `doc_id` wins
    * (exactly [[graft.ops.Dedup.dropExactDuplicates]]'s `min(id)`
    * rule); across batches the first-arriving batch wins. When ids
    * arrive in nondecreasing order — the append-only ingest case —
    * the stream's output set is byte-identical to running the batch
    * op over the union of all batches, which is what the spec
    * asserts.
    */
  def dedupExact(docs: org.apache.spark.sql.Dataset[DedupDoc])
      : org.apache.spark.sql.Dataset[DedupDoc] = {
    import docs.sparkSession.implicits._
    dedupExactBy(docs)(_.text, _.doc_id)
  }

  /** [[dedupExact]] generalized over the row type: first-seen-wins on
    * the md5 of `text(row)`, within-batch keeper = min `order(row)` —
    * so a richer pipeline row (e.g. one already carrying its token
    * count) dedups without being squeezed through [[DedupDoc]].
    */
  def dedupExactBy[T](docs: org.apache.spark.sql.Dataset[T])
                     (text: T => String, order: T => Long)
                     (implicit enc: org.apache.spark.sql.Encoder[T])
      : org.apache.spark.sql.Dataset[T] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    docs.groupByKey { d =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(text(d).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.flatMapGroupsWithState[Boolean, T](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case (_, it, state) =>
        if (state.exists) Iterator.empty
        else { state.update(true); Iterator.single(it.minBy(order)) }
    }
  }

  /** Row type for the budget-gated stream. */
  final case class BudgetDoc(doc_id: Long, source: String, n_tokens: Long)

  /** Stateful streaming token-budget admission — the continuous-ingest
    * twin of [[graft.ops.Sampling.tokenBudget]]: admit a document iff
    * its key's running token total BEFORE it is still under
    * `budgetPerKey` (so a positive budget always admits at least one
    * document per key, the batch rule). State per key is ONE long.
    *
    * Order: within a micro-batch documents are admitted in the batch
    * operator's deterministic (md5(id), id) order — a stream whose
    * content arrives in one batch is therefore byte-identical to the
    * batch operator (the spec asserts this); across batches, arrival
    * order wins (earlier batches spend the budget first). The
    * per-(key, batch) group is buffered to sort — bounded by the
    * micro-batch, never the stream.
    */
  def tokenBudgetGate(docs: org.apache.spark.sql.Dataset[BudgetDoc],
                      budgetPerKey: Long)
      : org.apache.spark.sql.Dataset[BudgetDoc] = {
    require(budgetPerKey > 0, s"budgetPerKey must be positive: $budgetPerKey")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    def h(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetDoc](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          var run = state.getOption.getOrElse(0L)
          val admitted = it.toVector.sortBy(d => (h(d.doc_id), d.doc_id))
            .filter { d =>
              val admit = run < budgetPerKey
              if (admit) run += d.n_tokens
              admit
            }
          state.update(run)
          admitted.iterator
      }
  }

  /** Start the budget-gated stream from a parquet directory source
    * (expects doc_id/source/n_tokens columns) into a named memory
    * sink; one micro-batch per file.
    */
  def startTokenBudgetStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, budgetPerKey: Long,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import spark.implicits._
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .select(col("doc_id").cast("long"), col("source"),
        col("n_tokens").cast("long"))
      .as[BudgetDoc]
    tokenBudgetGate(src, budgetPerKey).toDF().writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Pipeline row carrying its token count through the chain, so the
    * tokenizer kernel runs ONCE per document (repetitionStats already
    * pays it; its n_tokens field is kernel-parity-pinned to
    * tokenCount).
    */
  final case class CurateDoc(doc_id: Long, text: String, source: String,
                             n_tokens: Long)

  /** The composed continuous curation pipeline — quality gate ∘
    * stateful exact dedup ∘ benchmark decontamination ∘ stateful
    * token-budget admission — wired as ONE streaming query, the
    * end-to-end ingest shape [[curate]]'s batch twin
    * (`pipeline_curate`) runs offline:
    *
    *  1. repetition/length quality gate — stateless per-row kernel,
    *     the exact `pipeline_curate` predicate;
    *  2. [[dedupExact]] — first-seen-wins across the life of the
    *     stream (32 bytes of state per distinct document);
    *  3. [[graft.ops.Decontaminate.overlapWithGramRow]] filter against
    *     the pre-collapsed benchmark gram row — stateless broadcast;
    *  4. [[tokenBudgetGate]] — per-source admission against the
    *     cumulative token budget (one long of state per key).
    *
    * Replay contract (spec-proven in EventStreamsSpec): with ids
    * arriving in nondecreasing order, a single-batch replay is
    * byte-identical to the batch composition quality ∘
    * [[graft.ops.Dedup.dropExactDuplicates]] ∘
    * [[graft.ops.Decontaminate.drop]] ∘
    * [[graft.ops.Sampling.sampleTokenBudget]]; a multi-batch replay
    * emits exactly the batch quality∘dedup∘decontaminate survivor
    * set with the budget spent in arrival-then-(md5(id), id) order —
    * each stage's own cross-batch contract, composed.
    *
    * Scale: the two stateful stages keep bounded per-key state
    * (digest boolean / running long); everything else is stateless
    * map work; the benchmark gram row broadcasts once. Output:
    * (doc_id, source, n_tokens) of admitted documents.
    */
  def curateChain(docs: org.apache.spark.sql.Dataset[DedupDoc],
                  gramRow: DataFrame, budgetPerKey: Long,
                  minTokens: Long = 25, maxDupFrac: Double = 0.55,
                  n: Int = 3, decontamMinHits: Int = 2)
      : org.apache.spark.sql.Dataset[BudgetDoc] = {
    import docs.sparkSession.implicits._
    val q = docs.toDF()
      .withColumn("_r", TextAnalysis.repetitionStats(col("text")))
      .where(col("_r.n_tokens") >= minTokens && col("_r.dup_word_frac") <= maxDupFrac)
      .select(col("doc_id"), col("text"), col("source"),
        col("_r.n_tokens").cast("long").as("n_tokens"))
      .as[CurateDoc]
    val deduped = dedupExactBy(q)(_.text, _.doc_id)
    val clean = graft.ops.Decontaminate
      .overlapWithGramRow(deduped.toDF(), gramRow, "text", n, decontamMinHits)
      .where(!col("contaminated"))
    tokenBudgetGate(
      clean.select(col("doc_id"), col("source"), col("n_tokens")).as[BudgetDoc],
      budgetPerKey)
  }

  /** Start [[curateChain]] from a parquet directory source (doc_id/
    * text/source columns) into a named memory sink; one micro-batch
    * per file.
    */
  def startCuratedChainStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, gramRow: DataFrame, budgetPerKey: Long,
      minTokens: Long = 25, maxDupFrac: Double = 0.55,
      n: Int = 3, decontamMinHits: Int = 2,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import spark.implicits._
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .select(col("doc_id").cast("long"), col("text"), col("source"))
      .as[DedupDoc]
    curateChain(src, gramRow, budgetPerKey, minTokens, maxDupFrac,
        n, decontamMinHits)
      .toDF().writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The exactly-once foreachBatch commit protocol shared by the
    * index-backed ingest streams: each micro-batch's curated output
    * lands under a batchId-stamped directory (`outDir/batch=<id>`,
    * so a plain parquet read of `outDir` sees one `batch` partition
    * column plus the data), written in OVERWRITE mode with the job's
    * `_SUCCESS` marker as the commit record. A batch replayed after
    * a crash between the sink write and the checkpoint commit either
    * (a) finds its `_SUCCESS` and skips entirely — output AND index
    * appends (the body's [[graft.ops.IndexStore]] tags carry the
    * batchId) are untouched — or (b) finds a partial directory and
    * overwrites it after re-deriving the identical verdict (each
    * increment's retry proof), with the tagged index appends
    * skipping idempotently. Either way the output table holds each
    * curated row EXACTLY once.
    */
  private def idempotentBatchSink(spark: SparkSession, outDir: String)(
      body: (DataFrame, Long, String) => Unit): (DataFrame, Long) => Unit = {
    (batch, id) =>
      val dir = s"$outDir/batch=$id"
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf())
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
        body(batch, id, dir)
  }

  /** Near-duplicate (MinHash-LSH) dedup as a CONTINUOUS ingest: each
    * micro-batch dedups against the accumulated signature index via
    * [[graft.ops.Dedup.dedupIncrement]] — which also appends the
    * batch's own signatures — and the survivors land under a
    * batchId-stamped directory of `outDir`. The state is the
    * persisted parquet index itself, NOT the state store: a web
    * corpus's signatures (k longs per document EVER ingested,
    * survivors and dropped alike) outgrow any per-executor state
    * store, but live naturally as a parquet table banded-joined per
    * batch — and the same index doubles as the
    * [[graft.ops.Dedup.minhashLshPairsFromSigs]] input for
    * retro-profiling the accumulated corpus. A missing index
    * initializes empty (schema-anchored) at stream start.
    *
    * Contracts — each inherited from [[graft.ops.Dedup.dedupIncrement]]
    * and spec-proven in EventStreamsSpec: ids arrive in nondecreasing
    * ingestion order across batches (the min-id-wins decomposition);
    * the union of survivor batches equals the FULL-corpus batch
    * dedup of everything ever streamed. Delivery is EXACTLY-ONCE at
    * the sink ([[idempotentBatchSink]]): a replayed micro-batch
    * either skips on its `_SUCCESS` marker or overwrites its own
    * directory with the identical re-derived verdict, and its
    * signature append is batchId-tagged so the index never
    * double-registers (spec-proven replay slice).
    */
  def startIncrementalDedupStream(
      spark: SparkSession, sourceDir: String, indexPath: String,
      outDir: String, checkpointDir: String, schema: StructType,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, bands: Int = 4, n: Int = 3, threshold: Double = 0.5,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    if (!graft.ops.IndexStore.exists(spark, indexPath))
      graft.ops.Dedup.writeMinhashIndex(
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema),
        idCol, textCol, indexPath, k, n)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val perBatch = idempotentBatchSink(spark, outDir) { (batch, id, dir) =>
      // schema-anchored write: a micro-batch whose every doc was a
      // duplicate still leaves a schema-carrying file, so a read of
      // outDir never fails inference on an all-dropped prefix
      graft.ops.TableWrite.withSchemaAnchor(
        // numeric-head tag ("<batchId>"): the shape IndexStore's
        // retireTags can watermark away — a "batch-<id>" prefix would
        // pin every tag in the manifest forever
        graft.ops.Dedup.dedupIncrement(batch, idCol, textCol, indexPath,
          k, bands, n, threshold, commitTag = Some(s"$id")),
        dir, "overwrite")
    }
    src.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(perBatch)
      .start()
  }

  /** Substring-level (span) dedup as a CONTINUOUS ingest — the
    * [[startIncrementalDedupStream]] pattern applied to
    * [[graft.ops.Dedup.removeDuplicateSpansIncrement]]: each
    * micro-batch cuts token spans duplicated against everything ever
    * streamed (via the persisted span-gram index) or within itself,
    * appends its own grams, and writes (doc_id, clean_text, n_kept,
    * n_removed) rows under a batchId-stamped directory of `outDir`.
    * Same contracts as the near-dup starter: ids nondecreasing across
    * batches, EXACTLY-ONCE at the sink ([[idempotentBatchSink]] +
    * batchId-tagged gram appends), state in parquet rather than the
    * state store.
    */
  def startIncrementalSpanDedupStream(
      spark: SparkSession, sourceDir: String, indexPath: String,
      outDir: String, checkpointDir: String, schema: StructType,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8, crossDocOnly: Boolean = true,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    if (!graft.ops.IndexStore.exists(spark, indexPath))
      graft.ops.Dedup.writeSpanGramIndex(
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema),
        idCol, textCol, indexPath, n)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val perBatch = idempotentBatchSink(spark, outDir) { (batch, id, dir) =>
      graft.ops.TableWrite.withSchemaAnchor(
        // numeric-head tag — see startIncrementalDedupStream
        graft.ops.Dedup.removeDuplicateSpansIncrement(batch, idCol, textCol,
          indexPath, n, crossDocOnly, commitTag = Some(s"$id")),
        dir, "overwrite")
    }
    src.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(perBatch)
      .start()
  }

  /** The COMPOSED incremental ingest as a continuous query: each
    * micro-batch runs [[graft.ops.IngestPipeline.ingestShard]] —
    * quality gate ∘ exact dedup ∘ Bloom decontamination ∘ near-dup
    * dedup ∘ span cut (each dedup against its persisted index) — and
    * writes (doc_id, key, clean_text, n_tokens) rows under
    * batchId-stamped directories of `outDir`. This is the production
    * shape end to end: documents land as parquet shards, every
    * cross-shard fact lives in the persisted index tables
    * ([[graft.ops.IncrementalIndex]]; absent ones self-initialize
    * inside the first batch), and the curated corpus
    * streams out. Contracts inherited stage by stage: ids
    * nondecreasing across batches; EXACTLY-ONCE at the sink
    * ([[idempotentBatchSink]]), with every stage's index append
    * batchId-tagged so a replayed batch mutates nothing twice
    * (IngestPipelineSpec's retry + replay slices).
    */
  def startIngestPipelineStream(
      spark: SparkSession, sourceDir: String, bench: DataFrame,
      digestIndexPath: String, minhashIndexPath: String,
      spanIndexPath: String, outDir: String, checkpointDir: String,
      schema: StructType, idCol: String = "doc_id",
      textCol: String = "text", keyCol: String = "source",
      minTokens: Long = 25, maxDupFrac: Double = 0.55,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3, threshold: Double = 0.5,
      spanN: Int = 8, decontamN: Int = 3, decontamMinHits: Int = 2,
      expectedGrams: Long = 1L << 20, fpp: Double = 0.03,
      maxFilesPerTrigger: Int = 1,
      htmlCol: Option[String] = None,
      minTextShare: Double = 0.05, maxLinkDensity: Double = 0.9,
      urlCol: Option[String] = None, urlIndexPath: Option[String] = None,
      publicSuffixes: Option[Set[String]] = None,
      lineIndexPath: Option[String] = None,
      maintainEvery: Int = 8, tagRetention: Int = 1024,
      onMaintenance: Seq[graft.ops.IngestPipeline.MaintenanceReport] => Unit =
        _ => ()): StreamingQuery = {
    // fail at START time, not first-micro-batch time, when the source
    // schema is missing a pipeline column
    for (c <- Seq(htmlCol.getOrElse(textCol), keyCol, idCol) ++ urlCol)
      require(schema.fieldNames.contains(c),
        s"startIngestPipelineStream: source schema lacks required column '$c' " +
          s"(schema: ${schema.fieldNames.mkString(", ")})")
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val maintained = Seq(digestIndexPath -> "digest",
        minhashIndexPath -> "minhash", spanIndexPath -> "span") ++
      urlIndexPath.map(_ -> "digest") ++ lineIndexPath.map(_ -> "line")
    val sink = idempotentBatchSink(spark, outDir) { (batch, id, dir) =>
      graft.ops.TableWrite.withSchemaAnchor(
        graft.ops.IngestPipeline.ingestShard(batch, bench,
          digestIndexPath, minhashIndexPath, spanIndexPath,
          idCol = idCol, textCol = textCol, keyCol = keyCol,
          minTokens = minTokens, maxDupFrac = maxDupFrac,
          k = k, bands = bands, shingleN = shingleN,
          threshold = threshold, spanN = spanN,
          decontamN = decontamN, decontamMinHits = decontamMinHits,
          expectedGrams = expectedGrams, fpp = fpp,
          // numeric-head tag ("<batchId>:<stage>" after the stage
          // fan-out): retirable by the maintenance watermarks — the
          // old "batch-<id>" prefix made every tag permanent
          commitTag = Some(s"$id"),
          htmlCol = htmlCol, minTextShare = minTextShare,
          maxLinkDensity = maxLinkDensity,
          urlCol = urlCol, urlIndexPath = urlIndexPath,
          publicSuffixes = publicSuffixes,
          lineIndexPath = lineIndexPath),
        dir, "overwrite")
    }
    // maintenance is scheduled FROM ingest ticks — every
    // `maintainEvery` micro-batches the foreachBatch tail retires
    // committed idempotence tags and folds each index's data directories
    // ([[graft.ops.IngestPipeline.maintainIndexes]]); without this a
    // month-long stream accumulates manifest lines and small files
    // until an operator intervenes out-of-band. Runs AFTER the sink
    // body (also on a replay-skipped batch — maintenance is
    // manifest-committed and never changes results, so re-running it
    // across a crash boundary is safe); replays of PRE-maintenance
    // batches stay idempotent through the watermark rule (sub-
    // watermark batchIds are already-committed by monotonicity).
    val perBatch: (DataFrame, Long) => Unit = { (batch, id) =>
      sink(batch, id)
      if (maintainEvery > 0 && (id + 1) % maintainEvery == 0)
        onMaintenance(graft.ops.IngestPipeline.maintainIndexes(
          spark, maintained, tagRetention))
    }
    src.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(perBatch)
      .start()
  }

  /** Start the stateful dedup stream from a parquet directory source
    * into a named memory sink. `maxFilesPerTrigger = 1` makes each
    * source file its own micro-batch, so cross-batch state is
    * genuinely exercised by a multi-file directory.
    */
  def startExactDedupStream(
      spark: SparkSession, sourceDir: String, queryName: String,
      schema: StructType, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import spark.implicits._
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .select(col("doc_id").cast("long"), col("text"), col("source"))
      .as[DedupDoc]
    dedupExact(src).toDF().writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
