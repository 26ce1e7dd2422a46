package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.{Sampling, TextAnalysis}

/** Streaming corpus curation: the training-data operators over a
  * document stream. Each operator here runs on a batch or a streaming
  * DataFrame; a stream is [[Streams.files]] → operator →
  * [[Streams.toMemory]]. The stateless ones ([[curate]],
  * [[scoreWithModel]]) are byte-identical in both modes; the stateful
  * ones ([[dedupExact]], [[tokenBudgetGate]], [[curateChain]]) keep
  * bounded per-key state and state their cross-batch contract.
  *
  * The index-backed increments (`graft.ops.Dedup.dedupIncrement`,
  * `removeDuplicateSpansIncrement`, `graft.ops.IngestPipeline.ingestShard`)
  * keep their cross-batch state in persisted parquet indexes rather
  * than the state store, and stream through [[Streams.exactlyOnce]]
  * with the batchId as their `commitTag`.
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
}
