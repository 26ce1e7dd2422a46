package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * fingerprint, n-gram Jaccard, MinHash+LSH and SimHash.
  *
  * Scale design notes:
  *  - exact/fingerprint dedup is one hash-shuffle on the digest key —
  *    the digest (16 bytes) shuffles, never the document bodies.
  *  - n-gram Jaccard is guarded by a blocking key so the pairwise
  *    stage is per-block, not corpus-wide.
  *  - MinHash+LSH is the corpus-scale path: signatures are fixed-size
  *    (k strings), candidate generation is an equi-join on
  *    (band, band_hash) buckets — a shuffle join on a short key,
  *    never O(n²).
  *  - hashes are md5-derived end-to-end so results are engine-portable
  *    (and DuckDB-oracle-verifiable) — lexicographic min over md5 hex
  *    strings equals numeric min over the 128-bit values.
  */
object Dedup {

  /** Word n-gram shingle array built per-row by the native
    * `WordShingles` kernel (one pass, no regex, no per-element lambda
    * dispatch — see TextExpressions); `dedup = false` keeps duplicate
    * shingles for consumers insensitive to them (MinHash minima). A
    * doc shorter than `n` tokens contributes its whole text as the
    * single shingle.
    */
  private def shingleArray(text: org.apache.spark.sql.Column, n: Int,
                           dedup: Boolean): org.apache.spark.sql.Column =
    graft.functions.TextExpressions.word_shingles(text, n, dedup)

  /** Word n-gram shingles (default 3) as an array column. */
  def shingles(text: org.apache.spark.sql.Column, n: Int = 3): org.apache.spark.sql.Column =
    shingleArray(text, n, dedup = true)

  /** Distinct (id, extras..., shingle) rows — the exploded form the
    * similarity joins consume. Per-row `array_distinct` + one
    * `explode`: zero exchanges before the consumer's groupBy (the
    * per-doc distinct equals a global distinct because the id is in
    * the key), so the whole token stream never shuffles.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  extraCols: Seq[String], n: Int = 3): DataFrame =
    shingleRows(df, idCol, textCol, extraCols, n, distinct = true)

  /** As above; `distinct = false` skips the per-row dedup for
    * consumers insensitive to duplicate shingles (MinHash minima).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  extraCols: Seq[String], n: Int, distinct: Boolean): DataFrame =
    df.select((col(idCol).as("_id") +: extraCols.map(col)) :+
      explode(shingleArray(col(textCol), n, dedup = distinct)).as("_s"): _*)

  /** Duplication profile: the exact-duplicate cluster-size histogram
    * — one row per cluster size with `n_clusters`, `n_docs` (rows in
    * clusters of that size) and `n_excess_docs` (rows a dedup pass
    * would remove) — the "how duplicated is this corpus" summary that
    * decides whether a dedup stage is worth scheduling at all.
    *
    * Scale shape: two hash aggregates — digest-only rows cross the
    * first exchange (never text), the second input is
    * #distinct-digest-sized, and the output is histogram-sized
    * (#distinct cluster sizes). Nothing is corpus-wide after the
    * first map pass.
    */
  def duplicationProfile(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("_digest"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("n_excess_docs", (col("cluster_size") - 1) * col("n_clusters"))

  /** [[duplicationProfile]] for NEAR duplicates: the cluster-size
    * histogram of the MinHash-LSH duplicate graph's connected
    * components (docs in no pair count as singleton clusters) — the
    * near-dup companion to the exact-dup profile, sized the same way
    * a dedup pass with [[Components.connectedComponents]] would
    * actually group the corpus.
    *
    * Scale shape: the banded LSH pair join (never all-pairs) +
    * O(log n) pointer-jumping rounds, then two histogram-sized
    * aggregates; nothing corpus-wide after the signature scan.
    */
  def nearDupProfile(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 16, bands: Int = 4, n: Int = 3,
                     threshold: Double = 0.25): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, k, bands, n, threshold)
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
    df.select(col(idCol))
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(coalesce(col("cluster"), col(idCol)).as("_cid"))
      .groupBy(col("_cid")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("n_excess_docs", (col("cluster_size") - 1) * col("n_clusters"))
  }

  /** Exact duplicate groups by content digest: (digest, dup_count,
    * canonical_id = min id).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("canonical_id"))
      .where(col("dup_count") > 1)

  /** Fingerprint (normalized-form) duplicate groups. */
  def fingerprintGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("canonical_id"))
      .where(col("dup_count") > 1)

  /** Pairwise n-gram Jaccard within blocks, via shared-shingle
    * counting: explode shingles once, equi-join on (block, shingle),
    * count shared shingles per pair, then |A∪B| = |A| + |B| − |A∩B|.
    * Only pairs sharing ≥1 shingle are emitted (a zero-overlap pair
    * has jaccard 0 and never clears a positive threshold).
    *
    * Scale: this replaces a per-pair O(|A|·|B|) array intersection
    * with one shuffle keyed on (block, shingle) — the standard
    * inverted-index similarity join; skew on common shingles is
    * bounded by the block size.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // per-doc shingle count from the un-exploded array (free — no
    // window shuffle); materialized once because both join sides read
    // this subtree. localCheckpoint, not cache(): checkpoint blocks are
    // freed by the ContextCleaner as soon as the DataFrame is
    // unreachable, where CacheManager entries from cache() persist for
    // the session lifetime and accrete across repeated dedup calls.
    val ex = df.select((Seq(col(idCol).as("_id")) ++ blockCols.map(col)) :+
        shingles(col(textCol), n).as("_sha"): _*)
      .withColumn("_nsh", size(col("_sha")).cast("long"))
      .select((Seq(col("_id"), col("_nsh")) ++ blockCols.map(col)) :+
        explode(col("_sha")).as("_s"): _*)
      .localCheckpoint()
    val a = ex.select((Seq(col("_id").as("id_a"), col("_nsh").as("na"), col("_s")) ++
      blockCols.map(col)): _*)
    val b = ex.select((Seq(col("_id").as("id_b"), col("_nsh").as("nb"), col("_s").as("_sb")) ++
      blockCols.map(c => col(c).as(s"${c}_b"))): _*)
    val joinCond = (blockCols.map(c => col(c) === col(s"${c}_b")) :+
      (col("_s") === col("_sb")) :+ (col("id_a") < col("id_b"))).reduce(_ && _)
    a.join(b, joinCond)
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard", multisetJaccard(col("c"), col("na"), col("nb")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** c / (na + nb − c), guarded against a zero (or negative)
    * denominator. With today's per-doc-DISTINCT gram/fingerprint
    * inputs the denominator is provably ≥ max(na, nb) ≥ 1, so the
    * guard never fires and oracle parity is untouched — it exists as
    * defense in depth for any future multiset caller (dedup = false
    * shingles), where a pathological document whose every gram
    * repeats could drive c to na + nb and a division error would
    * kill a whole 100 TB job for one junk pair. Such a pair is a
    * duplicate under any reading, so it scores 1.0 (kept by every
    * threshold).
    */
  private def multisetJaccard(c: org.apache.spark.sql.Column,
                              na: org.apache.spark.sql.Column,
                              nb: org.apache.spark.sql.Column) = {
    val denom = (na + nb - c).cast("double")
    when(denom <= 0.0, lit(1.0)).otherwise(c.cast("double") / denom)
  }

  /** Pairwise near-duplicate candidates by shared WINNOWING
    * fingerprints (TextAnalysis.winnowFingerprints): fingerprint sets
    * are tiny (one hash per window position survives), so the
    * inverted-index join — explode fps, equi-join on (block, fp),
    * count shared per pair — moves far fewer rows than the shingle
    * join for the same corpus; jaccard over the fingerprint SETS
    * estimates document overlap. Same scale shape as
    * `ngramJaccardPairs`: one shuffle keyed on (block, fp), never
    * O(n²).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  blockCols: Seq[String], k: Int = 8, w: Int = 4,
                  threshold: Double = 0.5): DataFrame = {
    // guarded spread BEFORE the fingerprint kernel (r15): the winnow
    // kernel is an md5-per-character-window pass — on a single-file
    // fixture it serialized the checkpoint (1.34 s, ONE task) AND,
    // because the checkpoint inherited one partition, the pair join
    // behind it (1.09 s, one task). A wide real scan passes through
    // untouched (Spread's contract).
    val ex = Spread.ifNarrow(df, col(idCol))
      .select((Seq(col(idCol).as("_id")) ++ blockCols.map(col)) :+
        TextAnalysis.winnowFingerprints(col(textCol), k, w).as("_fps"): _*)
      .withColumn("_nfp", size(col("_fps")).cast("long"))
      .select((Seq(col("_id"), col("_nfp")) ++ blockCols.map(col)) :+
        explode(col("_fps")).as("_fp"): _*)
      .localCheckpoint()
    val a = ex.select((Seq(col("_id").as("id_a"), col("_nfp").as("na"), col("_fp")) ++
      blockCols.map(col)): _*)
    val b = ex.select((Seq(col("_id").as("id_b"), col("_nfp").as("nb"), col("_fp").as("_fpb")) ++
      blockCols.map(c => col(c).as(s"${c}_b"))): _*)
    val joinCond = (blockCols.map(c => col(c) === col(s"${c}_b")) :+
      (col("_fp") === col("_fpb")) :+ (col("id_a") < col("id_b"))).reduce(_ && _)
    a.join(b, joinCond)
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("fp_jaccard", multisetJaccard(col("c"), col("na"), col("nb")))
      .where(col("fp_jaccard") >= threshold)
      .select("id_a", "id_b", "fp_jaccard")
  }

  /** The positional gram-hash stream duplicateSpans and the span-gram
    * index build share: one (doc_id, gpos, gh) row per token n-gram
    * position, docs shorter than `n` excluded. One ShingleHashes
    * kernel pass; callers pin it when they fan out. Over an
    * already-pinned shard, the UNPINNED table may go straight in as an
    * increment's `pinnedGrams`: each consumer re-runs the map-only gram
    * explode over the checkpoint instead of paying a dedicated
    * checkpoint job, and the exploded table (roughly n× the text bytes)
    * is never materialized — at scale that write+read costs about as
    * much as re-running the hash kernel.
    */
  private[graft] def spanGrams(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    Spread.ifNarrow(df, col(idCol))
      .where(size(TextAnalysis.tokens(col(textCol))) >= n)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextExpressions.shingle_hashes(col(textCol), n))
          .as(Seq("gpos", "gh")))

  /** Merge marked gram positions into maximal spans — the island
    * window shared by the batch and incremental span paths. `hits`
    * is (doc_id, gpos) with gpos unique per doc; the window is
    * per-document, bounded by doc length, never corpus-wide.
    */
  private def spansFromGramHits(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("gpos")
    // covers [gpos, gpos+n-1]; merge marks that overlap or touch
    val prev = lag(col("gpos"), 1).over(w)
    val island = sum(when(prev.isNull || col("gpos") > prev + n, 1).otherwise(0))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    hits.withColumn("_isl", island)
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min("gpos").as("_s"), max("gpos").as("_e"))
      .select(col("doc_id"),
        col("_s").cast("long").as("span_start"),
        (col("_e") + n - 1).cast("long").as("span_end"),
        (col("_e") + n - col("_s")).cast("long").as("span_tokens"))
  }

  /** Cut every listed span out of each document's token stream — the
    * apply tail shared by [[removeDuplicateSpans]] and
    * [[removeDuplicateSpansIncrement]]. `spans` is duplicateSpans
    * output; docs without a span row pass through intact.
    */
  private def cutSpans(df: DataFrame, idCol: String, textCol: String,
                       spans: DataFrame): DataFrame = {
    val grouped = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val toks = TextAnalysis.tokens(col(textCol))
    // docs with no span row join a NULL _spans — the isNull arm keeps
    // every token (exists over NULL would yield NULL → drop-all)
    val kept = filter(col("_t"), (tok, i) =>
      col("_spans").isNull ||
        !exists(col("_spans"), s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") <= s.getField("span_end")))
    // spread the doc side ONLY when `grouped` is broadcast-sized: under
    // a broadcast join a one-file corpus would tokenize + rebuild every
    // document in ONE task (r16 StageProfile: two ~300 ms single-task
    // stages in dedup_drop_spans); when the span table is above the
    // broadcast threshold the join's own exchange spreads the doc side
    // and a pre-spread would shuffle the text twice (measured at the
    // synthetic sf10 — see Spread.ifNarrowAndPeerBroadcastable)
    Spread.ifNarrowAndPeerBroadcastable(df, grouped, col(idCol))
      .select(col(idCol).as("doc_id"), toks.as("_t"))
      .join(grouped, Seq("doc_id"), "left")
      .withColumn("_k", kept)
      .select(col("doc_id"),
        concat_ws(" ", col("_k")).as("clean_text"),
        size(col("_k")).cast("long").as("n_kept"),
        (size(col("_t")) - size(col("_k"))).cast("long").as("n_removed"))
  }

  /** Maximal duplicated token spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the substring-level
    * dedup document-level MinHash cannot see): every token n-gram
    * occurring in ≥2 distinct documents marks its covered positions,
    * and overlapping/adjacent marks merge into maximal spans.
    * Returns (doc_id, span_start, span_end, span_tokens) with
    * 0-based inclusive token positions, one row per maximal span.
    * Docs shorter than `n` tokens never participate (short-doc
    * duplication is document-level dedup's job). `crossDocOnly=false`
    * also marks within-document repeats (≥2 occurrences anywhere).
    *
    * Scale shape: the ShingleHashes kernel emits one 60-bit hash per
    * gram position in a single pass (the suffix-array of the paper
    * replaced by a hash inverted index — the standard distributed
    * reformulation); duplicated grams are one (hash) groupBy with
    * map-side partials, the position join is an equi-join on the hash
    * (AQE broadcasts the duplicated set when small), and the island
    * merge is a per-document window — bounded by doc length, never
    * corpus-wide. Hash collisions (60-bit) can over-mark a span at
    * ~1e-10 per gram pair — the standard trade for never shuffling
    * gram strings.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, crossDocOnly: Boolean = true): DataFrame = {
    // the gram table pins eagerly: the dup-gram aggregate and the
    // position probe both read it, and unpinned each branch would
    // re-run the ShingleHashes kernel (the expensive pass)
    val grams = spanGrams(df, idCol, textCol, n).localCheckpoint(true)
    // duplicated-gram detection is a two-level fold, NOT a window over
    // gh (round 11): a per-gram window buffers every occurrence of a
    // gram on one task, and at web scale a boilerplate gram in 50% of
    // documents lands its whole position list on one reducer. The
    // groupBy's map-side partial aggregation IS the salted first
    // level (each input partition folds its occurrences to one
    // (gh, min, max, count) row — the physical partition is the
    // salt), so the final per-gh combine receives ≤ #maptasks rows
    // regardless of gram frequency. Cross-doc duplication is
    // min(doc_id) ≠ max(doc_id) (a ≥2-distinct test needs no
    // countDistinct); within-doc is a plain count. The dup-gram SET
    // (one row per duplicated gram) then equi-joins back to the
    // pinned gram table — AQE broadcasts it when small and
    // skew-splits the probe side when a hot gram dominates a shuffle
    // partition, so no single task ever buffers a gram's full
    // position list.
    val dupSet = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"),
        count(lit(1)).as("_c"))
      .where(if (crossDocOnly) col("_mn") =!= col("_mx") else col("_c") >= 2)
      .select("gh")
    val hits = grams.join(dupSet, "gh").select("doc_id", "gpos")
    spansFromGramHits(hits, n)
  }

  /** The "apply" half of [[duplicateSpans]]: rebuild each document
    * with every duplicated span's tokens removed (the Lee-et-al.
    * policy of cutting repeated substrings out of the training text
    * rather than dropping whole documents). Returns one row per input
    * document: (doc_id, clean_text, n_kept, n_removed). Documents
    * with no duplicated span pass through re-joined on single spaces
    * (token-normalized, like every text op here).
    *
    * Scale shape: spans aggregate to ONE row per affected doc (a
    * bounded struct array), the corpus joins that table on doc_id
    * (AQE broadcasts it when small — the corpus itself never
    * shuffles), and the cut is a per-row `filter` with index over the
    * token array: map-side, O(tokens × spans-per-doc), no window, no
    * token-stream shuffle.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8, crossDocOnly: Boolean = true): DataFrame =
    cutSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, n, crossDocOnly))

  // ── incremental span dedup against a persisted gram index ─────────

  /** Persist a corpus's span-gram index ([[IncrementalIndex.Span]]):
    * one (gh, min_doc) row per DISTINCT n-gram hash — the accumulated
    * state [[removeDuplicateSpansIncrement]] cleans each NEW shard
    * against, instead of re-hashing the full corpus per ingest. Cost is
    * ~8 bytes per distinct gram — the hash inverted index that replaces
    * Lee et al.'s suffix array, persisted. `commitTag` makes an append
    * replay-idempotent.
    */
  def writeSpanGramIndex(df: DataFrame, idCol: String, textCol: String,
                         path: String, n: Int = 8,
                         append: Boolean = false,
                         commitTag: Option[String] = None): Unit =
    IncrementalIndex.Span.write(IncrementalIndex.Span.rows(spanGrams(df, idCol, textCol, n)),
      path, append, commitTag)

  // ── incremental exact dedup against a persisted digest index ──────

  private def exactDigest(textCol: String, normalized: Boolean) =
    if (normalized) TextAnalysis.fingerprint(col(textCol)) else md5(col(textCol))

  /** Persist a corpus's exact-dup digest index
    * ([[IncrementalIndex.Digest]]): one (digest, min_doc) row per
    * DISTINCT document digest, for the pipelines whose seen-forever
    * digest set outgrows a streaming state store and must live as a
    * joinable table.
    */
  def writeDigestIndex(df: DataFrame, idCol: String, textCol: String,
                       path: String, normalized: Boolean = false,
                       append: Boolean = false,
                       commitTag: Option[String] = None): Unit =
    IncrementalIndex.Digest.write(IncrementalIndex.Digest.rows(
        df.select(col(idCol).as("doc_id"), exactDigest(textCol, normalized).as("digest"))),
      path, append, commitTag)

  /** Exact-dedup a NEW shard against the accumulated corpus WITHOUT
    * re-reading it: an increment doc survives iff no PAST doc shares
    * its digest (one equi-join against the index) and it is the
    * smallest id among increment docs sharing the digest (the batch
    * [[dropExactDuplicates]] min-id rule over the shard alone). With
    * ids in ingestion order, the two tests together are EXACTLY the
    * full-batch min-id rule over (corpus ∪ increment) restricted to
    * the increment — the same decomposition as [[dedupIncrement]]
    * and [[removeDuplicateSpansIncrement]] (spec-proven in OpsSpec,
    * including retry identity: a shard's own appended digests carry
    * its per-digest min id, so they only drop what the within rule
    * already drops).
    *
    * When `appendDigests` is set (the default), the shard's
    * (digest, min_doc) rows append to the index eagerly at call time
    * (the returned plan's manifest snapshot is taken at entry, so it
    * is safe against the append). A `commitTag` makes the append
    * idempotent across replays ([[IndexStore]] tags — the streaming
    * sinks pass the batchId), decoupling index mutation from plan
    * construction: a died-and-retried caller re-appends nothing.
    *
    * Scale: one digest kernel pass over the shard, one broadcast-or-
    * shuffled equi-join against the index on the digest key, one
    * #distinct-digests aggregate — nothing corpus-sized moves.
    */
  def dedupExactIncrement(inc: DataFrame, idCol: String, textCol: String,
                          indexPath: String, normalized: Boolean = false,
                          appendDigests: Boolean = true,
                          commitTag: Option[String] = None,
                          appendBarrier: Option[AppendBarrier] = None,
                          pinnedDigested: Option[DataFrame] = None): DataFrame = {
    val idx = IncrementalIndex.Digest.snapshot(inc.sparkSession, indexPath)
    // eager pin: the digest kernel has three consumers (within-keep,
    // the index probe, the append) — unpinned, each would re-hash the
    // shard. `pinnedDigested` (`inc` plus its digest as `_dg`, computed
    // with the same `normalized`) lets a caller materialize this pass
    // CONCURRENTLY with independent work — e.g. the NEXT shard's
    // front-door kernel overlapping this shard's ingest: the digest
    // column is per-doc deterministic, so the table is identical.
    val d = pinnedDigested.getOrElse(
      inc.withColumn("_dg", exactDigest(textCol, normalized))
        .localCheckpoint(true))
    // the within-shard min-id rule joins back on id ALONE (ids are
    // unique), exactly like the batch dropExactDuplicates — a digest
    // equality here would silently drop every NULL-text doc
    // (null === null is NULL, never true)
    val keepWithin = d.select(col(idCol).as("_kid"), col("_dg"))
      .groupBy(col("_dg")).agg(min(col("_kid")).as("_kid"))
      .select("_kid")
    val kept = d
      .join(keepWithin, d(idCol) === keepWithin("_kid"), "left_semi")
      // null-safe digest equality: a NULL-text increment doc must
      // still match a NULL-text PAST doc (one null-digest group in
      // the batch rule, min id wins there too)
      .join(idx, d("_dg") <=> idx("digest") && idx("_imn") < d(idCol),
        "left_anti")
      .drop("_dg")
    if (appendDigests) {
      // the append's source is the materialized checkpoint `d`, and no
      // downstream consumer of `kept` reads THIS index (its manifest
      // snapshot is already taken) — so a composed pipeline may defer
      // it through the barrier and overlap it with later-stage compute
      IncrementalIndex.Digest.append(IncrementalIndex.Digest.rows(
          d.select(col(idCol).as("doc_id"), col("_dg").as("digest"))),
        indexPath, commitTag, appendBarrier)
    }
    kept
  }

  /** Cut duplicated token spans out of a NEW shard against the
    * accumulated corpus WITHOUT re-hashing it: a gram position in an
    * increment doc is marked when its hash exists in the persisted
    * index (any past occurrence — one past doc plus this one is
    * already two distinct docs) OR when the within-increment rule
    * marks it ([[duplicateSpans]]'s min≠max / count≥2 test over the
    * increment alone). With ids in ingestion order (all indexed ids
    * < all increment ids), the two rules together are EXACTLY the
    * full-batch union rule restricted to increment docs — so the
    * output equals [[removeDuplicateSpans]] over (corpus ∪ increment)
    * filtered to the increment (oracle row `dedup_spans_incremental`).
    * Indexed documents are never revisited: shipped shards are
    * immutable, so a span whose FIRST occurrence sits in an old doc
    * keeps that old occurrence — the Lee et al. policy applied
    * forward in ingest order.
    *
    * When `appendGrams` is set (the default), the increment's
    * per-gram (gh, min_doc) rows append to the index eagerly at call
    * time; the returned plan is safe against it (the manifest
    * snapshot is taken at entry). `commitTag` makes the append
    * replay-idempotent ([[IndexStore]]). A RETRY against the
    * already-appended index
    * reproduces the IDENTICAL spans: the presence test keeps only
    * `min_doc < doc_id` rows — a no-op for genuine index grams
    * (ingestion order) and, for the shard's own appended rows,
    * marked-iff-the-within-rule-already-marked (a gram whose shard
    * min_doc precedes this doc IS a two-distinct-doc gram of the
    * shard; spec-proven in SpanSkewSpec).
    *
    * Scale: each ingest pays one ShingleHashes pass over its own
    * shard + one equi-join against the index (AQE broadcasts the
    * increment side's gram set when small) + the within-shard fold;
    * the index read is gh-pruned parquet, never source text.
    */
  def removeDuplicateSpansIncrement(inc: DataFrame, idCol: String,
                                    textCol: String, indexPath: String,
                                    n: Int = 8, crossDocOnly: Boolean = true,
                                    appendGrams: Boolean = true,
                                    commitTag: Option[String] = None,
                                    appendBarrier: Option[AppendBarrier] = None,
                                    pinnedGrams: Option[DataFrame] = None,
                                    pinnedIndex: Option[DataFrame] = None): DataFrame = {
    // `pinnedIndex` (must hold exactly the index's (gh, min_doc) rows
    // — e.g. [[IncrementalIndex.build]]'s pin) lets a build-then-probe
    // caller skip re-reading the files its own append just wrote; the
    // snapshot folds either source to one row per gh (the global first
    // doc is the min over per-shard minima)
    val idx = IncrementalIndex.Span.snapshot(inc.sparkSession, indexPath, pinnedIndex)
    // eager pin: the within-fold, the index probe and the append all
    // read the gram table — unpinned, each would re-run the kernel.
    // `pinnedGrams` (the [[spanGrams]] table over the same shard/args:
    // [[pinnedSpanGrams]], or the unpinned kernel over an already-pinned
    // `inc`) lets a caller materialize this pass CONCURRENTLY with an
    // independent job (the bench rows overlap it with the corpus-side
    // index build) — the table is identical, so verdicts are too.
    val grams = pinnedGrams.getOrElse(
      spanGrams(inc, idCol, textCol, n).localCheckpoint(true))
    val within = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"),
        count(lit(1)).as("_c"))
      .where(if (crossDocOnly) col("_mn") =!= col("_mx") else col("_c") >= 2)
      .select("gh")
    val idxHits = grams.join(idx, Seq("gh"))
      .where(col("_imn") < col("doc_id")).select("doc_id", "gpos")
    val withinHits = grams.join(within, Seq("gh")).select("doc_id", "gpos")
    // both rules can mark the same position; the island window needs
    // one row per (doc, gpos). Repartition on doc_id FIRST: hash
    // partitioning on doc_id satisfies the distinct's (doc_id, gpos)
    // clustering AND the island window's and span/cut aggregates'
    // doc_id clustering, so one exchange serves all four operators
    // (guide §2.4 — the unhinted shape paid a (doc_id, gpos) exchange
    // for the distinct plus a doc_id exchange for the window)
    val hits = idxHits.union(withinHits).repartition(col("doc_id")).distinct()
    val out = cutSpans(inc, idCol, textCol, spansFromGramHits(hits, n))
    if (appendGrams)
      IncrementalIndex.Span.append(IncrementalIndex.Span.rows(grams),
        indexPath, commitTag, appendBarrier)
    out
  }

  /** The increment's positional gram table, eagerly pinned — the
    * exact table [[removeDuplicateSpansIncrement]] computes when
    * `pinnedGrams` is absent, exposed so a caller can overlap its
    * materialization with an independent job (e.g. the corpus-side
    * [[writeSpanGramIndex]]) before passing it in.
    */
  def pinnedSpanGrams(inc: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame =
    spanGrams(inc, idCol, textCol, n).localCheckpoint(true)

  // ── line-level exact dedup (the Falcon/RefinedWeb boilerplate rule) ─

  /** One (doc_id, lpos, lh) row per NON-BLANK line: lines are the
    * raw '\n'-split segments of the text (EXACT string equality — no
    * token normalization, unlike every gram op here: the rule targets
    * verbatim boilerplate headers/footers/navigation), `lh` the
    * 64-bit hash of the line. Blank and whitespace-only lines never
    * participate — they are document structure, and cutting "the
    * empty line" corpus-globally would mangle every multi-paragraph
    * doc. One map pass, no shuffle. Like [[spanGrams]], the unpinned
    * table over an already-pinned shard may go in as an increment's
    * `pinnedLines` (the split + xxhash re-runs map-side per consumer).
    */
  private[graft] def lineRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("lpos", "line")))
      .where(trim(col("line")) =!= "")
      .select(col("doc_id"), col("lpos"), col("line"),
        xxhash64(col("line")).as("lh"))

  /** Corpus profile of cross-document duplicated LINES — the
    * granularity document-level MinHash can't see and span dedup
    * (token n-grams) only approximates: Falcon/RefinedWeb remove
    * exact duplicate lines across documents as the dominant
    * boilerplate killer. One row per duplicated line:
    * (line, n_docs, n_occurrences, min_doc).
    *
    * Scale shape: a (lh, doc_id) pre-fold (map-side partials absorb a
    * boilerplate line repeated within a shard's docs) then the per-lh
    * fold — the two-level story of [[duplicateSpans]], with the line
    * string riding as a min() payload, never a join key.
    */
  def duplicateLines(df: DataFrame, idCol: String, textCol: String): DataFrame =
    lineRows(df, idCol, textCol)
      .groupBy(col("lh"), col("doc_id"))
      .agg(count(lit(1)).as("_occ"), min(col("line")).as("_line"))
      .groupBy(col("lh"))
      .agg(min(col("_line")).as("line"),
        count(lit(1)).as("n_docs"),
        sum(col("_occ")).as("n_occurrences"),
        min(col("doc_id")).as("min_doc"))
      .where(col("n_docs") >= 2)
      .select("line", "n_docs", "n_occurrences", "min_doc")

  /** The apply half: rebuild each document with every cross-document
    * duplicated line removed EXCEPT in the document with the smallest
    * id (the corpus-global min-doc rule — the line's first-ingested
    * occurrence is the one that stays, exactly the keep rule of
    * [[dropExactDuplicates]] lifted to line granularity). Returns one
    * row per input document: (doc_id, clean_text, n_lines_kept,
    * n_lines_removed), clean_text the kept lines re-joined on '\n'.
    * Blank lines always survive (see [[lineRows]]); within-document
    * repeats of a line the doc "owns" (it is the min doc) survive too
    * — the rule is cross-document.
    *
    * Scale shape: the dup set (one (lh, min_doc) row per duplicated
    * line) comes from one hash aggregate with map-side partials; cut
    * positions aggregate to ONE bounded array per affected doc; the
    * corpus joins that table on doc_id (AQE broadcasts it when small
    * — document bodies never shuffle) and the cut is a per-row array
    * filter, map-side.
    */
  def removeDuplicateLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // eager pin: the dup-set fold and the cut-position probe both
    // read the line table — unpinned, each branch re-splits the corpus
    val lines = lineRows(df, idCol, textCol).localCheckpoint(true)
    val dupSet = lines.groupBy(col("lh"))
      .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"))
      .where(col("_mn") =!= col("_mx"))
      .select(col("lh"), col("_mn"))
    val cuts = lines.join(dupSet, "lh")
      .where(col("doc_id") =!= col("_mn"))
      .groupBy(col("doc_id")).agg(collect_list(col("lpos")).as("_cuts"))
    cutLines(df, idCol, textCol, cuts)
  }

  /** The shared apply tail of [[removeDuplicateLines]] and
    * [[removeDuplicateLinesIncrement]]: filter each doc's line array
    * by the cut-position set; docs without a cut row pass through
    * verbatim (including their blank lines).
    *
    * Membership is size-gated so neither regime pays for the other:
    * when `|lines| · |cuts|` is small (every real fixture — a handful
    * of cuts against tens of lines) the direct per-line
    * `array_contains` scan wins on constants (no array allocations);
    * past the gate (a scraped nav-shell doc where thousands of
    * boilerplate lines are all cut — 10k lines × 10k cuts = 10⁸
    * comparisons in ONE row under the direct scan) the kept POSITIONS
    * come from one `array_except(sequence(0, L-1), _cuts)` (hash-set
    * difference, order-preserving and duplicate-free on its first
    * argument — positions are already distinct and ascending) and
    * each kept line is an O(1) `element_at`: O(L + C) per document.
    * The planted adversarial doc in the line-dedup spec crosses the
    * gate and pins the set-difference shape; the oracle rows pin both
    * branches' agreement (CaseWhen evaluates exactly one per row).
    */
  private def cutLines(df: DataFrame, idCol: String, textCol: String,
                       cuts: DataFrame): DataFrame = {
    val arr = split(coalesce(col(textCol), lit("")), "\n", -1)
    val nl = size(col("_l")).cast("long")
    val nc = size(col("_cuts")).cast("long")
    val direct = filter(col("_l"), (_, i) => !array_contains(col("_cuts"), i))
    val setDiff = transform(
      array_except(sequence(lit(0), size(col("_l")) - 1), col("_cuts")),
      p => element_at(col("_l"), p + 1))
    // spread the doc side too: cuts is small (AQE broadcasts it), so
    // a one-file corpus would otherwise rebuild every document's line
    // array in ONE task — lineRows got the spread, the cut tail needs
    // its own (no-op when the caller already widened the input).
    // Deliberately UNCONDITIONAL, unlike cutSpans' peer-gated spread:
    // the line-cut table's plan-time estimate overshoots its runtime
    // size (14.6 MB est vs an AQE runtime broadcast at the synthetic
    // sf10), and the measured A/B there says the spread is essential
    // (anchor-normalized 1.18 with vs 4.28 without) — line cuts are
    // boilerplate-bounded, never corpus-dense like span grams.
    Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"), arr.as("_l"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("_k",
        when(col("_cuts").isNull, col("_l"))
          .when(nl * nc <= lit(1L << 14), direct)
          .otherwise(setDiff))
      .select(col("doc_id"),
        array_join(col("_k"), "\n").as("clean_text"),
        size(col("_k")).cast("long").as("n_lines_kept"),
        (size(col("_l")) - size(col("_k"))).cast("long").as("n_lines_removed"))
  }

  /** Persist a corpus's line index ([[IncrementalIndex.Line]]): one
    * (lh, min_doc) row per DISTINCT non-blank line hash. `commitTag`
    * makes an append replay-idempotent.
    */
  def writeLineIndex(df: DataFrame, idCol: String, textCol: String,
                     path: String, append: Boolean = false,
                     commitTag: Option[String] = None): Unit =
    IncrementalIndex.Line.write(IncrementalIndex.Line.rows(lineRows(df, idCol, textCol)),
      path, append, commitTag)

  /** Cut duplicated lines out of a NEW shard against the accumulated
    * corpus WITHOUT re-reading it: an increment line occurrence is
    * cut when its hash exists in the persisted index with
    * `min_doc < doc_id` (a past doc owns the line) OR when the
    * within-increment rule cuts it ([[removeDuplicateLines]]'s
    * min≠max / not-the-min-doc test over the shard alone). With ids
    * in ingestion order the two rules together are EXACTLY the
    * full-batch corpus-global min-doc rule restricted to increment
    * docs (oracle row `dedup_lines_incremental` — the decomposition
    * proof), and a RETRY against the already-appended index is
    * verdict-stable: the shard's own appended (lh, min_doc) rows cut
    * only what the within rule already cuts.
    *
    * Scale: one line pass over the shard + one equi-join against the
    * lh-pruned index + the within-shard fold; indexed documents are
    * never revisited (shipped shards are immutable — the min-doc
    * occurrence stays, the forward-ingest policy of every index
    * family here).
    */
  def removeDuplicateLinesIncrement(inc: DataFrame, idCol: String,
                                    textCol: String, indexPath: String,
                                    appendLines: Boolean = true,
                                    commitTag: Option[String] = None,
                                    appendBarrier: Option[AppendBarrier] = None,
                                    pinnedLines: Option[DataFrame] = None,
                                    pinnedIndex: Option[DataFrame] = None): DataFrame = {
    // `pinnedIndex`: see [[removeDuplicateSpansIncrement]] — skips the
    // write→read-back round trip in a build-then-probe composition
    val idx = IncrementalIndex.Line.snapshot(inc.sparkSession, indexPath, pinnedIndex)
    // eager pin: the within-fold, the index probe and the append all
    // read the line table — unpinned, each would re-split the shard.
    // `pinnedLines` (the [[lineRows]] table over the same shard:
    // [[pinnedLineRows]], or the unpinned kernel over an already-pinned
    // `inc`) lets a caller overlap this pass with an independent job.
    val lines = pinnedLines.getOrElse(
      lineRows(inc, idCol, textCol).localCheckpoint(true))
    val within = lines.groupBy(col("lh"))
      .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"))
      .where(col("_mn") =!= col("_mx"))
      .select(col("lh"), col("_mn"))
    val idxCuts = lines.join(idx, Seq("lh"))
      .where(col("_imn") < col("doc_id")).select("doc_id", "lpos")
    val withinCuts = lines.join(within, Seq("lh"))
      .where(col("doc_id") =!= col("_mn")).select("doc_id", "lpos")
    // both rules can cut the same occurrence; one row per (doc, lpos).
    // One doc_id exchange serves the distinct AND the cut-list
    // aggregate (guide §2.4; the spans-increment rationale)
    val cuts = idxCuts.union(withinCuts).repartition(col("doc_id")).distinct()
      .groupBy(col("doc_id")).agg(collect_list(col("lpos")).as("_cuts"))
    val out = cutLines(inc, idCol, textCol, cuts)
    if (appendLines)
      IncrementalIndex.Line.append(IncrementalIndex.Line.rows(lines),
        indexPath, commitTag, appendBarrier)
    out
  }

  /** The increment's line table, eagerly pinned — the exact table
    * [[removeDuplicateLinesIncrement]] computes when `pinnedLines` is
    * absent, exposed so a caller can overlap its materialization with
    * an independent job (e.g. the corpus-side [[writeLineIndex]]).
    */
  def pinnedLineRows(inc: DataFrame, idCol: String, textCol: String): DataFrame =
    lineRows(inc, idCol, textCol).localCheckpoint(true)

  /** MinHash signatures in wide form: one row per doc, k `sig<i>`
    * columns — a single shuffle (groupBy id) with k min-aggregates,
    * instead of exploding every shingle k times.
    */
  /** Modulus for the permutation family (2³¹−1, prime). */
  final val MinhashP = 2147483647L

  def minhashSignaturesWide(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 16, n: Int = 3): DataFrame = {
    // ONE md5 per shingle; the k permutations are affine maps of the
    // 60-bit hex prefix mod 2³¹−1. (k md5s per shingle would bottleneck
    // on the synchronized MessageDigest provider lookup under high
    // thread counts.) Integer arithmetic keeps DuckDB-oracle parity.
    // The ShingleHashes kernel builds shingle + MD5 prefix in one pass
    // (thread-local digest, no shingle-string column materialization);
    // duplicates are kept — MIN is insensitive to them.
    val sh = df
      .select(col(idCol).as("id"),
        explode(graft.functions.TextExpressions.shingle_hashes(col(textCol), n)).as("h60"))
      .select(col("id"), (col("h60") % MinhashP).as("h"))
    val aggs = (0 until k).map(i =>
      min((lit(2L * i + 1) * col("h") + lit(1000003L * i + 12345L)) % MinhashP).as(s"sig$i"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Row-form signatures (id, seed, sig) — unpivot of the wide form. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, n: Int = 3): DataFrame = {
    val wide = minhashSignaturesWide(df, idCol, textCol, k, n)
    wide.select(col("id"),
        explode(array((0 until k).map(s =>
          struct(lit(s).as("seed"), col(s"sig$s").as("sig"))): _*)).as("x"))
      .select(col("id"), col("x.seed").as("seed"), col("x.sig").as("sig"))
  }

  /** LSH candidate pairs: signatures split into `bands`, docs sharing
    * any (band, band_hash) bucket become candidates; estimated
    * similarity = matching signature slots / k. All signature
    * comparison happens on the wide rows — two hash joins on doc id,
    * no per-seed shuffle.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, bands: Int = 4, n: Int = 3,
                      threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // three consumers (band explode + both pair sides) read the
    // signatures; localCheckpoint materializes them once and lets the
    // blocks die with the DataFrame — see ngramJaccardPairs note
    val wide = minhashSignaturesWide(df, idCol, textCol, k, n).localCheckpoint()
    val bandRows = lshBandRows(wide, k, bands)
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    estimatePairs(cand, wide, wide, k, threshold)
  }

  /** LSH calibration report: for every LSH candidate pair, the
    * k-minhash Jaccard ESTIMATE is compared against the EXACT
    * shingle-set Jaccard, aggregated per estimate bucket (est·k is an
    * exact integer 0..k) — the report that picks bands/threshold for
    * a production dedup run (how many candidates does each estimate
    * level admit, how many are true ≥0.25 near-dups, how far off is
    * the estimate). Returns (est_bucket, n_pairs, n_exact_ge_025,
    * sum_abs_err); a band collision implies ≥ k/bands matching seeds,
    * so buckets start at k/bands.
    *
    * 100 TB design: exact Jaccard is computed ONLY for LSH candidates
    * (pair-bounded, never all-pairs) via a gram equi-join; the error
    * sum is 12-dp-rounded DECIMAL — order-independent, engine-exact.
    */
  def lshCalibration(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    val cand = minhashLshPairs(df, idCol, textCol, k, bands, n, threshold = 0.0)
    val sh = shingleRows(df, idCol, textCol, Nil, n)
    val sizes = sh.groupBy("_id").agg(count(lit(1)).as("_sz"))
    val inter = cand.select("id_a", "id_b")
      .join(sh.select(col("_id").as("id_a"), col("_s")), "id_a")
      .join(sh.select(col("_id").as("id_b"), col("_s")), Seq("id_b", "_s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("_id").as("id_a"), col("_sz").as("_sza")), "id_a")
      .join(sizes.select(col("_id").as("id_b"), col("_sz").as("_szb")), "id_b")
      .withColumn("_i", coalesce(col("_inter"), lit(0L)).cast("double"))
      .withColumn("_j", col("_i") / (col("_sza") + col("_szb") - col("_i")))
      // round before the cast: est·k is mathematically integral but the
      // double m/k·k can sit one ulp below the integer for non-power-of-2
      // k, where a bare cast truncates into the wrong bucket
      .groupBy(round(col("est_jaccard") * k).cast("int").as("est_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("_j") >= 0.25, 1L).otherwise(0L)).cast("long").as("n_exact_ge_025"),
        round(sum(round(abs(col("est_jaccard") - col("_j")), 12)
          .cast("decimal(38,15)")).cast("double"), 6).as("sum_abs_err"))
  }

  /** The banded (band, band_hash) LSH bucket rows of a wide signature
    * table.
    */
  private def lshBandRows(wide: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    wide.select(col("id"),
        explode(array((0 until bands).map { b =>
          val slice = (b * rowsPerBand until (b + 1) * rowsPerBand).map(s => col(s"sig$s"))
          struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("band_hash"))
        }: _*)).as("x"))
      .select(col("id"), col("x.band").as("band"), col("x.band_hash").as("band_hash"))
  }

  /** Signature-agreement estimate for candidate (id_a, id_b) pairs. */
  private def estimatePairs(cand: DataFrame, wideA: DataFrame, wideB: DataFrame,
                            k: Int, threshold: Double): DataFrame = {
    val matches = (0 until k).map(s =>
      when(col(s"a.sig$s") === col(s"b.sig$s"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(wideA.as("a"), col("id_a") === col("a.id"))
      .join(wideB.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"), (matches.cast("double") / lit(k)).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Bipartite (cross-corpus) MinHash+LSH near-dup pairs: candidates
    * are (a-doc, b-doc) pairs sharing an LSH bucket — the incremental
    * -ingestion shape, where a new batch `a` is deduplicated AGAINST
    * an existing corpus `b` without ever self-joining either side.
    * Same banded equi-join scale shape as [[minhashLshPairs]]; the
    * candidate join is new-batch × matching-buckets only, so a small
    * batch against a 100 TB corpus shuffles the batch's buckets and
    * probes the corpus's (AQE broadcasts the batch side when small).
    */
  def minhashLshPairsAcross(a: DataFrame, b: DataFrame, idCol: String,
                            textCol: String, k: Int = 16, bands: Int = 4,
                            n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val wideB = minhashSignaturesWide(b, idCol, textCol, k, n).localCheckpoint()
    minhashLshPairsAcrossSigs(a, wideB, idCol, textCol, k, bands, n, threshold)
  }

  /** The amortized form of [[minhashLshPairsAcross]] for repeated
    * batch ingests: `corpusSigs` is the corpus's wide signature table
    * ([[minhashSignaturesWide]] output — `id, sig0..sig{k-1}`),
    * computed once and persisted (e.g. written to parquet alongside
    * the corpus) so each incoming batch pays only ITS OWN signature
    * pass plus the bucket join — the corpus is never re-scanned. The
    * convenience overload above derives the corpus signatures inline
    * and therefore re-pays that scan per call.
    */
  def minhashLshPairsAcrossSigs(a: DataFrame, corpusSigs: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 16, bands: Int = 4, n: Int = 3,
                                threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val wideA = minhashSignaturesWide(a, idCol, textCol, k, n).localCheckpoint()
    val cand = lshBandRows(wideA, k, bands).as("x")
      .join(lshBandRows(corpusSigs, k, bands).as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    estimatePairs(cand, wideA, corpusSigs, k, threshold)
  }

  /** The apply half of cross-corpus dedup: drop the new-batch docs
    * that near-duplicate the existing corpus (the pair set's id_a
    * side), keeping the batch otherwise intact. The drop set is ≤
    * |batch| ids → broadcast left-anti join.
    */
  def dropCrossDuplicates(a: DataFrame, b: DataFrame, idCol: String,
                          textCol: String, k: Int = 16, bands: Int = 4,
                          n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val dropIds = minhashLshPairsAcross(a, b, idCol, textCol, k, bands, n, threshold)
      .select(col("id_a").as("__drop_id")).distinct()
    a.join(broadcast(dropIds), a(idCol) === col("__drop_id"), "left_anti")
  }

  // ── incremental dedup against a persisted signature index ─────────

  /** Persist a corpus's MinHash signature index (the wide
    * [[minhashSignaturesWide]] table) as parquet — the accumulated
    * state real pipelines dedup each NEW shard against, instead of
    * re-scanning the full corpus per ingest. The index holds
    * signatures of EVERY ingested doc, dropped duplicates included:
    * the batch min-id-wins rule compares a doc against every PAST
    * doc, not just survivors, so pruning dropped docs' signatures
    * would let a doc that only duplicates a dropped doc slip through.
    * Cost per doc is k longs — ~128 bytes at k=16 — so the index is
    * ~4 orders of magnitude smaller than the corpus it summarizes.
    *
    * A zero-row corpus still writes a schema-carrying anchor file
    * ([[IndexStore]]), so reading a fresh index never
    * fails schema inference.
    */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String, k: Int = 16, n: Int = 3,
                        append: Boolean = false,
                        commitTag: Option[String] = None): Unit =
    IncrementalIndex.Minhash.write(minhashSignaturesWide(df, idCol, textCol, k, n),
      path, append, commitTag)

  /** [[minhashLshPairs]] over an already-computed wide signature
    * table (e.g. a reloaded [[writeMinhashIndex]]): the corpus text
    * is never touched — candidate generation and the agreement
    * estimate run entirely on the index. The second consumer an
    * index earns after [[dedupIncrement]]: retro-scanning the
    * accumulated corpus for duplicate PAIRS (profiling, cluster
    * assignment) without a signature recompute.
    */
  def minhashLshPairsFromSigs(sigs: DataFrame, k: Int = 16, bands: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val bandRows = lshBandRows(sigs, k, bands)
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    estimatePairs(cand, sigs, sigs, k, threshold)
  }

  /** Deduplicate a new shard against the accumulated corpus WITHOUT
    * re-scanning it: the increment's signatures are computed once,
    * banded-joined against the persisted index (any hit drops the
    * increment side — every indexed doc precedes every increment doc
    * in ingestion order) and against themselves (min-id-wins, the
    * batch rule), and the survivors are returned. With ids assigned
    * in ingestion order (all indexed ids < all increment ids), the
    * result is EXACTLY the batch [[minhashLshPairs]] +
    * [[dropPairedDuplicates]] dedup of (corpus ∪ increment)
    * restricted to the increment — the LSH candidate set, the
    * signature-agreement estimate, and the drop rule all decompose
    * pairwise (oracle row `dedup_incremental`; multi-increment
    * equivalence spec-proven in OpsSpec).
    *
    * When `appendSignatures` is set (the default), ALL increment
    * signatures — dropped docs' included, see [[writeMinhashIndex]] —
    * are appended to the index, so the next increment needs no
    * separate index-maintenance step. The append runs eagerly at
    * call time; the returned plan is safe against it (its manifest
    * snapshot is taken at entry), `commitTag` makes it
    * replay-idempotent ([[IndexStore]]), and a RETRY of the same shard
    * against the already-appended index reproduces the IDENTICAL
    * verdict: the cross join keeps only `index_id < inc_id` pairs —
    * a no-op for genuine index docs (ingestion-order contract) and
    * exactly the min-id rule against the shard's own appended
    * signatures, so neither a doc's own signature nor a larger
    * retried doc's can drop it (spec-proven in OpsSpec).
    *
    * Scale: the index never re-scans source text — each ingest pays
    * its own signature pass plus two banded equi-joins; the
    * increment-vs-index join probes only matching buckets (AQE
    * broadcasts the increment side when small); the drop set is
    * bounded by the increment size and broadcasts into the anti join.
    */
  def dedupIncrement(inc: DataFrame, idCol: String, textCol: String,
                     indexPath: String, k: Int = 16, bands: Int = 4,
                     n: Int = 3, threshold: Double = 0.5,
                     appendSignatures: Boolean = true,
                     commitTag: Option[String] = None,
                     appendBarrier: Option[AppendBarrier] = None,
                     pinnedSigs: Option[DataFrame] = None,
                     pinnedIndex: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // `pinnedIndex` (the index's wide signature rows, e.g.
    // [[IncrementalIndex.build]]'s pin of the corpus signatures): a
    // build-then-probe caller skips re-reading the files its own append
    // just wrote
    val idx = IncrementalIndex.Minhash.snapshot(inc.sparkSession, indexPath, pinnedIndex)
    // eager pin: the signature table has four consumers (cross join,
    // estimate, within-pairs, the append) — a lazy pin would let the
    // AQE broadcast thread race the main thread into recomputing it.
    // `pinnedSigs` (must be [[pinnedMinhashSignatures]] over the same
    // shard/k/n) lets a caller overlap the signature pass with an
    // independent job (e.g. the corpus-side [[writeMinhashIndex]]).
    val wide = pinnedSigs.getOrElse(
      minhashSignaturesWide(inc, idCol, textCol, k, n).localCheckpoint(true))
    val crossCand = lshBandRows(wide, k, bands).as("x")
      .join(lshBandRows(idx, k, bands).as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          // min-id-wins made explicit: a no-op for genuine index docs
          // (all indexed ids precede all increment ids by the
          // ingestion-order contract), and exactly the batch rule for
          // a RETRY whose own shard signatures were already appended —
          // neither a doc's own signature nor a LARGER retried doc's
          // can drop it
          col("y.id") < col("x.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val crossDrops = estimatePairs(crossCand, wide, idx, k, threshold)
      .select(col("id_a").as("_drop"))
    val withinDrops = minhashLshPairsFromSigs(wide, k, bands, threshold)
      .select(col("id_b").as("_drop"))
    val drops = crossDrops.union(withinDrops).distinct()
    val kept = inc.join(broadcast(drops), inc(idCol) === col("_drop"), "left_anti")
    if (appendSignatures)
      IncrementalIndex.Minhash.append(wide, indexPath, commitTag, appendBarrier)
    kept
  }

  /** The increment's wide signature table, eagerly pinned — the exact
    * table [[dedupIncrement]] computes when `pinnedSigs` is absent,
    * exposed so a caller can overlap the signature pass with an
    * independent job (e.g. the corpus-side [[writeMinhashIndex]]).
    */
  def pinnedMinhashSignatures(inc: DataFrame, idCol: String, textCol: String,
                              k: Int = 16, n: Int = 3): DataFrame =
    minhashSignaturesWide(inc, idCol, textCol, k, n).localCheckpoint(true)

  /** SimHash fingerprint over tokens (bit-width configurable; 64 by
    * default): per-token md5 bits vote ±tf, sign gives the fingerprint
    * bit. Runs as the native `SimHashExpr` kernel — SimHash is a
    * per-row value, so this is a map-only pass with ZERO shuffles; the
    * declarative form below shuffled the full token stream twice.
    * TextPropertySpec pins the kernel bit-identical to it.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 64): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextExpressions.simhash(col(textCol), bits).as("simhash"))

  /** The two-shuffle declarative formulation `simhash` replaced — kept
    * as the parity reference for the property suite.
    */
  private[graft] def simhashDeclarative(df: DataFrame, idCol: String, textCol: String,
                                        bits: Int = 64): DataFrame = {
    require(bits % 4 == 0 && bits <= 128, "bits must be multiple of 4, \u2264 128")
    val toks = df.select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    // nibbles decoded once per hex char (not once per bit): 16 conv
    // columns feed 64 vote-sum aggregates; md5 evaluated once per row
    val withHash = tf.withColumn("h", md5(col("tok")))
    val nibCols = (0 until bits / 4).map(j =>
      conv(substring(col("h"), j + 1, 1), 16, 10).cast("int").as(s"nib$j"))
    val withNibs = withHash.select(Seq(col("id"), col("tf")) ++ nibCols: _*)
    val voteAggs = (0 until bits).map { bit =>
      val isSet = (col(s"nib${bit / 4}").divide(lit(1 << (3 - bit % 4))).cast("int") % 2) === 1
      sum(when(isSet, col("tf")).otherwise(-col("tf"))).as(s"v$bit")
    }
    val votes = withNibs.groupBy("id").agg(voteAggs.head, voteAggs.tail: _*)
    val bitChars = (0 until bits).map(b =>
      when(col(s"v$b") > 0, lit("1")).otherwise(lit("0")))
    votes.select(col("id"), concat(bitChars: _*).as("simhash"))
  }

  /** Drop exact/fingerprint duplicates, keeping the canonical (min-id)
    * row of each group — the "apply" half of dedup: one digest
    * shuffle, bodies never move. `normalized` groups on the
    * normalized-form [[TextAnalysis.fingerprint]] instead of the raw
    * text's md5.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String,
                          normalized: Boolean = false): DataFrame = {
    val digest = exactDigest(textCol, normalized)
    val keep = df.select(col(idCol).as("_kid"), digest.as("_digest"))
      .groupBy("_digest").agg(min(col("_kid")).as("_kid"))
      .select("_kid")
    df.join(keep, col(idCol) === col("_kid"), "left_semi")
  }

  /** Remove the non-canonical side of near-duplicate pairs: given
    * (id_a, id_b) pairs with id_a < id_b, drops every id_b (transitive
    * chains collapse to their smallest id as long as the pair set is
    * closed under the blocking scheme).
    *
    * The drop set is bounded by the near-duplicate pair count — tiny
    * relative to the corpus — so by default it is broadcast into the
    * anti join and the corpus itself never shuffles. Pass
    * `broadcastDrops = false` only when the duplicate fraction is so
    * large the id set won't fit in executor memory (then a shuffled
    * anti join on the id key is the right plan).
    */
  def dropPairedDuplicates(df: DataFrame, idCol: String, pairs: DataFrame,
                           broadcastDrops: Boolean = true): DataFrame = {
    val drops = pairs.select(col("id_b").as("_drop")).distinct()
    df.join(if (broadcastDrops) broadcast(drops) else drops,
      col(idCol) === col("_drop"), "left_anti")
  }

  /** Quality-aware canonical selection: assign every row its
    * duplicate cluster (connected components over the near-dup pair
    * set; singletons cluster on their own id) and pick the cluster's
    * representative by (scoreCol DESC, id ASC) — the keep-the-best
    * policy (longest / highest-quality copy) production curation
    * pipelines use instead of the arbitrary keep-min-id. Returns
    * (id, score, cluster_id, canonical_id, is_canonical) for every
    * input row; filter `is_canonical` for the deduplicated corpus.
    *
    * 100 TB design: [[Components.connectedComponents]] is O(log n)
    * pointer-jumping join rounds over the edge set alone; the
    * assignment join is a plain id equi-join (AQE broadcasts the
    * component table when the duplicate set is small); the
    * representative choice is one window whose partitions are
    * duplicate clusters — bounded by cluster size, never corpus-wide.
    */
  def canonicalByScore(df: DataFrame, idCol: String, scoreCol: String,
                       pairs: DataFrame, aCol: String = "id_a",
                       bCol: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = Components.connectedComponents(pairs, aCol, bCol)
      .select(col("node").as(idCol), col("cluster").as("_cbs_lbl"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col(idCol))
    df.select(col(idCol), col(scoreCol).as("score"))
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("_cbs_lbl"), col(idCol)))
      .drop("_cbs_lbl")
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with k-means,
    * compare pairs only WITHIN a cluster, and drop the larger id of
    * every pair whose cosine reaches `threshold`. Returns `df` minus
    * the dropped rows (schema unchanged). Approximate by design: a
    * near-duplicate pair split across two clusters is missed — the
    * standard SemDeDup recall trade that buys the quadratic bound.
    *
    * 100 TB design: `centroids` (train via
    * [[Similarity.trainIvfCentroids]]) broadcast — the corpus never
    * shuffles for the assignment; pair generation is an equi-join on
    * `cent_id`, bounding the quadratic comparison at cluster
    * granularity (expected (n/k)² work per cluster — grow k with the
    * corpus, k ≈ √n keeps total pair work linear); the drop set,
    * bounded by the duplicate count, broadcasts into a left-anti
    * join, so the corpus itself is never shuffled at all.
    */
  def semDedupDrop(df: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = Similarity.assignClusters(df, vecCol, centroids)
    val pairs = embeddingNearDupPairs(assigned, idCol, vecCol, threshold,
      blockCol = Some("cent_id"))
    dropPairedDuplicates(df, idCol, pairs)
  }

  /** Hamming distance between two equal-length bit strings. */
  def hammingDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(filter(zip_with(split(a, "(?!^)"), split(b, "(?!^)"), (x, y) => x =!= y), d => d))

  /** Embedding-cosine near-duplicate pairs above `threshold`.
    *
    * Candidate generation is ALWAYS an equi-join on a blocking key —
    * there is no all-pairs path. With `blockCol` the key is the given
    * column (e.g. a cluster label; exact within blocks); without one
    * the key is a random-hyperplane LSH bucket (`lshPlanes` bits) and
    * the result is approximate: pairs whose vectors land in different
    * buckets are missed, the classic LSH recall trade. Lower
    * `lshPlanes` for higher recall at larger buckets.
    *
    * @note SEMANTIC CHANGE vs the first release: `blockCol = None`
    *       used to mean exact all-pairs comparison; it now means
    *       approximate LSH blocking (the all-pairs path was removed as
    *       a corpus-scale foot-gun). Callers needing exact pairs must
    *       supply a `blockCol` that partitions the space (exact within
    *       each block).
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, blockCol: Option[String] = None,
                            lshPlanes: Int = 8): DataFrame = {
    val blk = blockCol.map(col).getOrElse(Similarity.lshBucket(col(vecCol), lshPlanes))
    val base = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      Similarity.norm(col(vecCol)).as("_n"), blk.as("_blk"))
    val a = base.select(col("_id").as("id_a"), col("_v").as("va"),
      col("_n").as("na"), col("_blk"))
    val b = base.select(col("_id").as("id_b"), col("_v").as("vb"),
      col("_n").as("nb"), col("_blk").as("_blk_b"))
    a.join(b, col("_blk") === col("_blk_b") && col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Fuzzy entity resolution over a NAME column: blocked Jaro-Winkler
    * pairs. Candidates come from an equi-join on a cheap blocking key
    * (lowercased `blockLen`-char prefix by default) so there is no
    * all-pairs path; within a block, non-identical names scoring
    * `>= threshold` pair up. `sim` is rounded to 6 digits for
    * engine-portable comparison.
    *
    * Scale notes: no broadcast and no replication on the default path
    * — both sides hash-partition on the block key, so pair generation
    * is a plain co-partitioned equi-join that holds at any corpus size
    * (AQE still converts to broadcast at runtime when one side turns
    * out small). The prefix key is corpus-dependent: for skewed
    * prefixes (corporate naming like "ACME ...") pass `saltFactor > 1`
    * — the hot block then splits into `saltFactor` independent streams
    * via [[Salting.saltedEquiJoin]] (small-side rows ×saltFactor extra
    * shuffle volume buys a saltFactor-way split of the hottest
    * reducer) — or swap in a better key (phonetic code, sorted-token
    * prefix). The JaroWinkler kernel is a native expression (one JVM
    * call per candidate pair, no UDF).
    */
  def fuzzyNamePairs(df: DataFrame, idCol: String, nameCol: String,
                     threshold: Double = 0.9, blockLen: Int = 2,
                     saltFactor: Int = 1): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val blk = substring(lower(col(nameCol)), 1, blockLen)
    // hash-spread the probe rows by ID (NOT by block key — block
    // sizes are skewed, ID hashing is uniform): when AQE converts the
    // join to broadcast (small B), its local shuffle read reuses this
    // even layout for the CPU-quadratic pairwise stage, so pair
    // generation never inherits a small table's file layout or the
    // block-key skew. When B is too big to broadcast, the join's own
    // block-key exchanges take over (plain co-partitioned equi-join,
    // AQE skew-split eligible). Explicit partition count: AQE's
    // size-based coalescing would fold a byte-tiny shuffle back to
    // one partition, resurrecting the serial pairwise stage.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(col(idCol).as("id_a"), col(nameCol).as("_name_a"), blk.as("_blk"))
      .repartition(parallelism, col("id_a"))
    def sim = ColumnBridge.column(graft.functions.DuckFunctions.JaroWinkler(
      ColumnBridge.expression(col("_name_a")), ColumnBridge.expression(col("_name_b"))))
    // the similarity threshold lives IN the join condition (Catalyst
    // pushes the post-join filter there on the salted path too): the
    // codegen'd join then emits only surviving pairs instead of
    // materializing every blocked candidate row (candidate count is
    // quadratic in block size; survivor count isn't). Cheap predicates
    // sit first so codegen short-circuits before the kernel runs. The
    // filter compares the RAW score against the half-up inclusion
    // boundary of the 6-digit-rounded contract (round(x,6) >= t ⟺
    // x >= t - 5e-7) — Spark's ROUND codegen allocates BigDecimals,
    // which must not run per candidate; the rounded score is computed
    // only for survivors in the output projection.
    val survive = col("id_a") < col("id_b") &&
      col("_name_a") =!= col("_name_b") && sim >= threshold - 5e-7
    val pairs =
      if (saltFactor > 1) {
        // hot-prefix path: per-row salt on the big side, saltFactor
        // replicas of the small side — each hot block key becomes
        // saltFactor independently-shuffled streams, bounding the
        // per-task pairwise load (row-identical to the unsalted join)
        val b = df.select(col(idCol).as("id_b"), col(nameCol).as("_name_b"),
          blk.as("_blk"))
        Salting.saltedEquiJoin(a, b, Seq("_blk"), saltFactor).where(survive)
      } else {
        val b = df.select(col(idCol).as("id_b"), col(nameCol).as("_name_b"),
          blk.as("_blk_b"))
        a.join(b, col("_blk") === col("_blk_b") && survive)
      }
    pairs.withColumn("sim", round(sim, 6)).select("id_a", "id_b", "sim")
  }

  /** Corpus-similarity report between sources/domains: for every key
    * pair sharing at least one word n-gram, the EXACT shingle-set
    * Jaccard (from distinct-gram sizes — integer-derived, bit-exact)
    * next to the k-seed minhash ESTIMATE (the sketch a production run
    * would keep when the exact pass is too expensive) — the table a
    * mixture designer reads to spot near-duplicate sources before
    * weighting them independently (reference scope: extension
    * surface; cf. the per-document [[lshCalibration]]).
    *
    * 100 TB design: one corpus shingle pass → distinct (key, gram)
    * rows (map-side combine; grams hash to 60-bit md5 prefixes mod
    * 2³¹−1, the [[minhashSignaturesWide]] scheme, so no gram strings
    * shuffle); the exact intersection is a gram-keyed inverted-index
    * equi-join (pair-bounded, never #keys² over the corpus), sizes
    * and signatures are per-key aggregates (#keys × k rows), and the
    * estimate joins signatures on (seed, sig) agreement — every join
    * an equi-join, nothing quadratic in corpus size. Zero-overlap key
    * pairs are omitted by construction (their exact Jaccard is 0 and
    * the output stays sparse in #keys).
    *
    * Measured and rejected (round 11): pre-spreading the shingle pass
    * regresses at sf1 — thin partitions dilute the distinct's
    * partial aggregation, so grams shared by many docs cross the
    * exchange once per partition instead of once (the gram explosion
    * is ~100× the doc rows). Never pre-spread a high-dedup-ratio
    * distinct. Re-keying the pin on h for a co-partitioned self-join
    * also regresses (extra exchange > the join exchanges it saves).
    * See BASELINE.md round-11 adjudications.
    */
  def sourceSimilarity(df: DataFrame, keyCol: String, textCol: String,
                       k: Int = 16, n: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // distinct (key, gram-hash): the three consumers (sizes, exact
    // intersection, signatures) read it — pin one materialization
    val dist = df
      .select(col(keyCol).cast("string").as("_k"),
        explode(graft.functions.TextExpressions.shingle_hashes(col(textCol), n)).as("h60"))
      .select(col("_k"), (col("h60") % MinhashP).as("h"))
      .distinct()
      .localCheckpoint()
    val sizes = dist.groupBy("_k").agg(count(lit(1)).as("_ng"))
    val common = dist.as("a").join(dist.as("b"),
        col("a.h") === col("b.h") && col("a._k") < col("b._k"))
      .groupBy(col("a._k").as("key_a"), col("b._k").as("key_b"))
      .agg(count(lit(1)).as("n_common"))
    val sigAggs = (0 until k).map(i =>
      min((lit(2L * i + 1) * col("h") + lit(1000003L * i + 12345L)) % MinhashP).as(s"sig$i"))
    val sig = dist.groupBy("_k").agg(sigAggs.head, sigAggs.tail: _*)
      .select(col("_k"), explode(array((0 until k).map(s =>
          struct(lit(s).as("seed"), col(s"sig$s").as("sig"))): _*)).as("x"))
      .select(col("_k"), col("x.seed").as("seed"), col("x.sig").as("sig"))
    // seed-agreement via (seed, sig) equi-join: pairs with zero
    // agreeing seeds simply don't appear (estimate 0) — no #keys²
    // nested loop anywhere in the plan
    val agree = sig.as("x").join(sig.as("y"),
        col("x.seed") === col("y.seed") && col("x.sig") === col("y.sig") &&
          col("x._k") < col("y._k"))
      .groupBy(col("x._k").as("key_a"), col("y._k").as("key_b"))
      .agg(count(lit(1)).as("_na"))
    common
      .join(sizes.select(col("_k").as("key_a"), col("_ng").as("n_grams_a")), "key_a")
      .join(sizes.select(col("_k").as("key_b"), col("_ng").as("n_grams_b")), "key_b")
      .join(agree, Seq("key_a", "key_b"), "left")
      .select(col("key_a"), col("key_b"),
        col("n_grams_a"), col("n_grams_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_grams_a") + col("n_grams_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"),
        round(coalesce(col("_na"), lit(0L)).cast("double") / k, 6).as("est_jaccard"))
  }
}
