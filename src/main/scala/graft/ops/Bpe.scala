package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training at corpus scale — the
  * tokenizer-training half of an LLM data pipeline (Sennrich et al.
  * 2016; the word-count + merge-loop shape production tokenizer
  * trainers use).
  *
  * Scale design: the corpus is scanned ONCE, into a word-frequency
  * table (vocabulary-bounded — millions of rows for a 100 TB corpus,
  * not trillions); every merge iteration then runs on that table
  * alone: one pair-count aggregate (map-side combined) + one 1-row
  * argmax collect + one map-side `replace`, with a localCheckpoint
  * pinning each round's result so lineage stays flat (the k-means
  * trainer precedent). Driver state is one (left, right, count) row
  * per iteration.
  *
  * Determinism/portability: pair argmax ties break lexicographically
  * on (left, right); the merge application is a plain leftmost
  * non-overlapping string `replace` on a double-space-separated
  * symbol string — both engines (and the BPE reference algorithm)
  * agree on that greedy semantics, which is what makes the trainer
  * DuckDB-oracle-checkable (`text_bpe_merges`).
  */
object Bpe {

  /** Separator invariant: symbols joined by TWO spaces, two spaces at
    * both ends. A merge replaces ` a··b ` (single-space boundaries)
    * with ` ab `, consuming one boundary space on each side and
    * reinstating it — so separators stay exactly two spaces and
    * leftmost non-overlapping `replace` IS the BPE greedy merge.
    */
  private def symInit(w: Column): Column =
    concat(lit("  "),
      array_join(filter(split(w, ""), c => length(c) > 0), "  "),
      lit("  "))

  /** Corpus word-frequency table: (w, freq) — the single corpus scan.
    * The cheap doc rows spread across the cores BEFORE the tokenize +
    * explode (a single-file corpus is one input partition, which
    * would serialize the heaviest map work; at scale the shuffle
    * moves doc rows, never token rows).
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame = {
    // round-robin, not hash-on-text: identical documents would all
    // hash to one task on a duplicate-heavy (pre-dedup) corpus
    Spread.ifNarrow(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
  }

  /** Word-frequency table sliced by a key column: (key, w, freq).
    * The one corpus scan that serves BOTH the trainer (sum away the
    * key → global counts) and the fertility report — callers pin it
    * once instead of re-scanning the corpus per consumer.
    */
  def keyedWordCounts(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    Spread.ifNarrow(df)
      .select(col(keyCol), explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col(keyCol), col("w")).agg(count(lit(1)).as("freq"))

  /** Train `numMerges` BPE merges; returns (merge_rank, lhs, rhs,
    * merged, pair_count) ordered by rank. Stops early when no pair
    * reaches `minPairCount`.
    *
    * Job economy (round 9): one pair-count aggregate can safely
    * commit SEVERAL sequential merges when the greedy order is
    * provable from the collected top-K alone. After accepting the
    * argmax p1=(a1,b1), the next candidate p2 (in (count desc, a, b)
    * order) is still the true round-2 argmax iff (i) its symbols are
    * disjoint from every accepted pair's — so its own count is
    * untouched — and (ii) no pair that could FEED a new pair past c2
    * exists: every post-merge pair (x,a1b1) / (a1b1,y) occurrence
    * needs a pre-merge (x,a1) / (b1,y) adjacency, so its count is
    * bounded by that feeder's pre-merge count. All feeders with
    * count >= c2 are visible in the sorted top-K (a truncated list —
    * K-th count >= c2 — is treated as unsafe), so "no visible feeder
    * of any accepted pair with count >= c2" makes the batch EXACTLY
    * the sequential greedy prefix. Typical corpora batch 2–4 merges
    * per aggregate; adversarial ones (every top pair chained) fall
    * back to one merge per job, never to a wrong order.
    *
    * The per-round pin is a LAZY localCheckpoint: the next round's
    * aggregate materializes it inside its own job (no standalone
    * materialization job per round — the single-consumer chain has
    * none of the multi-branch race that forces the eager pin in the
    * text scorers), and lineage still stays flat across rounds so a
    * production-length merge loop cannot accrete a thousand-replace
    * plan.
    */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int,
                  minPairCount: Long = 2L): DataFrame =
    trainMergesFromWordCounts(wordCounts(df, textCol), numMerges, minPairCount)

  /** The production-merge-count contract. A real tokenizer is 30–50k
    * merges = thousands of sequential pair-count rounds (the batching
    * in [[trainMergesFromWordCounts]] amortizes 2–4× but the loop is
    * inherently sequential — each round's argmax depends on the
    * last), so the input that makes that affordable is a BOUNDED
    * word-count table, which is how every production trainer works:
    * SentencePiece/HF tokenizers train from word counts, typically
    * capped. This helper trains on the `maxWords` most-frequent words
    * (deterministic: freq desc, word asc tiebreak) — frequency
    * truncation loses only tail words whose pair counts can't steer
    * early merges, each round's aggregate input is ≤ maxWords rows
    * regardless of corpus size, and the merge loop's wall becomes
    * #rounds × per-round job latency with corpus size out of the
    * picture entirely after the one counting scan. The default cap
    * (2²⁰ words) is far above real tokenizer-training configs.
    *
    * Measured (round 14, sf0.1, local[32]): a numMerges=1000 train
    * runs the corpus to pair exhaustion; the wall is ~0.1–0.2 s per
    * merge ROUND (aggregate + 64-row collect + replace re-pin), i.e.
    * driver job latency, not data size — see BASELINE.md. A 50k-merge
    * production train is therefore hours of sequential rounds on ANY
    * engine; bounding the word table is what keeps each round's cost
    * flat while the corpus grows 1000×.
    */
  def trainMergesSampled(df: DataFrame, textCol: String, numMerges: Int,
                         maxWords: Int = 1 << 20,
                         minPairCount: Long = 2L): DataFrame = {
    require(maxWords >= 1, s"maxWords must be >= 1: $maxWords")
    trainMergesFromWordCounts(
      wordCounts(df, textCol).orderBy(desc("freq"), col("w")).limit(maxWords),
      numMerges, minPairCount)
  }

  /** Diagnostic only: sequential aggregate rounds of the most recent
    * [[trainMergesFromWordCounts]] call in this JVM (reset per call,
    * incremented per round). `tools.BpeBench` reads it for the
    * committed `bpe_1k_*.json` artifact's `agg_rounds` field; NOT part
    * of the API contract and not meaningful under concurrent trains.
    */
  private[graft] val lastTrainRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** [[trainMerges]] from a pre-built (w, freq) table — lets a caller
    * that also needs word counts for another consumer (the fertility
    * report) pay the corpus scan once.
    */
  def trainMergesFromWordCounts(wordCounts: DataFrame, numMerges: Int,
                                minPairCount: Long = 2L): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val topK = 64
    var cur = wordCounts
      .select(col("freq"), symInit(col("w")).as("s"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 0
    var exhausted = false
    lastTrainRounds.set(0)
    while (r < numMerges && !exhausted) {
      lastTrainRounds.incrementAndGet()
      val syms = split(trim(col("s")), "  ")
      val top = cur
        .select(col("freq"), syms.as("syms"))
        .select(col("freq"), explode(transform(col("syms"), (x, i) =>
          struct(x.as("a"), get(col("syms"), i + 1).as("b")))).as("p"))
        .where(col("p.b").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
        .where(col("c") >= minPairCount)
        .orderBy(desc("c"), col("a"), col("b"))
        .limit(topK)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val cand = top.map(row => (row.getString(0), row.getString(1), row.getLong(2)))
        val truncated = cand.length == topK
        val accepted = scala.collection.mutable.ArrayBuffer(cand.head)
        var i = 1
        var safeRun = true
        while (safeRun && i < cand.length && r + accepted.size < numMerges) {
          val (ai, bi, ci) = cand(i)
          // unseen pairs all have count <= the K-th listed count; if
          // that could reach ci an invisible feeder may exist
          val visible = !(truncated && cand.last._3 >= ci)
          // disjoint also from each accepted pair's OUTPUT string: a
          // merged "ab" can coincide with a pre-existing "ab" symbol
          // (two merge paths can build the same string), and then a
          // candidate mentioning that symbol would gain occurrences
          // from the batch-mate's merge — its pre-batch count would
          // no longer be its sequential count
          val disjoint = accepted.forall { case (aj, bj, _) =>
            val mj = aj + bj
            ai != aj && ai != bj && bi != aj && bi != bj &&
              ai != mj && bi != mj }
          val noBigFeeder = !cand.exists { case (qa, qb, qc) =>
            qc >= ci && accepted.exists { case (aj, bj, _) =>
              qa == bj || qb == aj } }
          if (visible && disjoint && noBigFeeder) { accepted += cand(i); i += 1 }
          else safeRun = false // greedy order beyond here is unprovable this round
        }
        accepted.foreach { case (a, b, c) =>
          merges += ((r.toLong, a, b, a + b, c)); r += 1
        }
        // disjoint symbols → the replaces commute; chain them in one
        // map-side projection and re-pin lazily
        cur = accepted.foldLeft(cur) { case (d, (a, b, _)) =>
          d.withColumn("s", replace(col("s"), lit(s" $a  $b "), lit(s" $a$b ")))
        }.localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Apply a trained merge list to a text column: tokenize, segment
    * each word by replaying the merges in rank order, and return the
    * flat subword array. Runs as the native `BpeEncodeExpr` kernel —
    * one pass over the string, a symbol-array scan per merge rule —
    * map-side, no shuffle; the declarative chained-`replace` form
    * below is the parity reference (it rebuilds and re-scans the
    * separator string once per merge per token, which dominated the
    * encode query's CPU).
    */
  def encodeSubwords(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextExpressions.bpe_encode(text, merges)

  /** Tokenizer fertility report: how well a trained merge list
    * compresses each slice of the corpus — the standard tokenizer
    * evaluation (fertility = subwords per word, Ács 2019; chars per
    * subword as the compression ratio). Returns one row per `keyCol`
    * value: (key, n_words, n_subwords, n_chars, fertility,
    * chars_per_subword). High-fertility slices are the ones a
    * vocabulary underserves (more sequence length per word of text).
    *
    * 100 TB design: fertility is a WORD-level statistic, so it
    * aggregates from the (key, w, freq) word-count table — each
    * distinct word is encoded ONCE and weighted by its frequency,
    * instead of re-encoding every token instance of a 100 TB corpus.
    * Encode cost is vocabulary-bounded; the report is one #keys-sized
    * hash aggregate with map-side combine. A key group with no tokens
    * contributes no words and therefore no row (matching a word-level
    * reference that groups over exploded tokens).
    */
  def fertilityReport(df: DataFrame, keyCol: String, textCol: String,
                      merges: Seq[(String, String)]): DataFrame =
    fertilityFromWordCounts(keyedWordCounts(df, keyCol, textCol), keyCol, merges)

  /** [[fertilityReport]] from a pre-built (key, w, freq) table (see
    * [[keyedWordCounts]]) — the form that shares one corpus scan with
    * the trainer when the merges are trained on the same corpus.
    */
  def fertilityFromWordCounts(wc: DataFrame, keyCol: String,
                              merges: Seq[(String, String)]): DataFrame = {
    val subs = encodeSubwords(col("w"), merges)
    wc.select(col(keyCol), col("freq"),
        size(subs).cast("long").as("_s"),
        length(col("w")).cast("long").as("_c"))
      .groupBy(col(keyCol))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("_s")).cast("long").as("n_subwords"),
        sum(col("freq") * col("_c")).cast("long").as("n_chars"))
      .withColumn("fertility",
        round(col("n_subwords").cast("double") / col("n_words"), 6))
      .withColumn("chars_per_subword",
        round(col("n_chars").cast("double") / col("n_subwords"), 6))
  }

  /** The declarative formulation encodeSubwords replaced — kept as the
    * parity reference for the property suite; semantics contract:
    * each merge is one leftmost non-overlapping `replace` on the
    * double-space symbol string, applied in rank order.
    */
  private[graft] def encodeSubwordsDeclarative(text: Column,
                                               merges: Seq[(String, String)]): Column =
    flatten(transform(TextAnalysis.tokens(text), w => {
      val segmented = merges.foldLeft(symInit(w)) { case (acc, (a, b)) =>
        replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
      }
      split(trim(segmented), "  ")
    }))
}
