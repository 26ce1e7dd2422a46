package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed production ingest step: everything this library's
  * incremental operators exist for, wired in the order a real
  * training-data pipeline runs them on each arriving shard —
  *
  *   0. (optional) web front door — HTML/boilerplate extraction with
  *      the Gopher-style markup screen ([[TextAnalysis.extractHtmlTable]]:
  *      text share + link density), then URL normalize + URL-level
  *      exact dedup on `norm_url` against a persisted URL index (the
  *      crawl-dedup rule: one canonical URL is ingested once, ever);
  *   1. quality gate — the `pipeline_curate` predicate (token count +
  *      duplicate-word fraction), stateless map work;
  *   2. [[Dedup.dedupExactIncrement]] — exact dups vs everything ever
  *      ingested (digest index);
  *   3. [[Decontaminate.overlapBloom]] — benchmark n-gram leakage
  *      filter through the Bloom candidate stage (exact verdicts, on
  *      the RAW text: eval leakage disqualifies a document whether or
  *      not the leaked passage would also have been span-cut);
  *   4. [[Dedup.dedupIncrement]] — near-dups vs the corpus MinHash
  *      signature index;
  *   5. (optional) [[Dedup.removeDuplicateLinesIncrement]] — exact
  *      duplicate LINES cut against the corpus line index (rewrites
  *      the text; the Falcon/RefinedWeb boilerplate killer);
  *   6. [[Dedup.removeDuplicateSpansIncrement]] — duplicated
  *      substrings cut against the corpus span-gram index (rewrites
  *      the text).
  *
  * Decontamination runs BEFORE both near-dup and span stages so a
  * rejected document never registers MinHash signatures OR span
  * grams: a contaminated doc must not become a permanent near-dup
  * canonical (a later CLEAN near-variant — the same article minus
  * the leaked passage — must be retained, not dropped against a doc
  * the corpus never admitted), and a passage co-occurring with eval
  * leakage must stay usable in the clean document that carries it
  * later. Both invariants are spec-proven by planted
  * contaminated-donor slices. The one deliberate asymmetry: the
  * EXACT-digest index (stage 2) registers digests before
  * decontamination — safe because a byte-identical copy of a
  * contaminated doc carries the identical leaked grams and is
  * rejected by its own decontamination verdict, never silently
  * dropped against the contaminated canonical.
  *
  * Front-door ordering (stage 0): extraction precedes EVERYTHING —
  * every text-keyed stage (quality, digest, MinHash, lines, spans)
  * must see the extracted text, not markup, or boilerplate tags
  * poison every index. URL dedup precedes the quality gate because
  * it needs no text at all (a re-crawl of a known URL is rejected
  * before paying any kernel pass). The LINE cut runs BEFORE span-gram
  * registration (stage 5 before 6) so the span index never learns
  * boilerplate the line rule already kills: a nav header cut at line
  * granularity must not leave its token n-grams behind as permanent
  * span-index entries that would chew legitimate quotations of those
  * words later. MinHash (stage 4) deliberately sees PRE-line-cut
  * text: near-dup identity should match how documents arrive — two
  * crawls of the same page share their boilerplate too, and
  * signatures must agree with the already-indexed corpus generation
  * by generation.
  *
  * Every cross-shard fact lives in the persisted parquet indexes, so
  * the step is a pure function of (shard, bench, index state): shards
  * ingest one at a time in id order, each call leaves the indexes
  * ready for the next shard, and a retried shard reproduces its
  * verdicts (each stage's own retry contract — the retried kept set
  * is identical stage by stage, so every index sees the same input
  * again). Each index accumulates the docs that REACH its stage: an
  * exact-dup never registers MinHash signatures (its byte-identical
  * canonical already did — any future match on one matches the
  * other), the line index describes documents the corpus admitted,
  * and the span index describes text the CORPUS actually retains
  * (post line cut), never text that was rejected. Output:
  * (doc_id, `keyCol`, clean_text, n_tokens) of admitted documents
  * with duplicated lines and spans already cut.
  *
  * Deliberately NOT here: the cumulative token-budget gate — budget
  * is cross-shard mutable state that the STREAMING composition
  * ([[graft.streaming.CurationStreams.curateChain]]) holds in its
  * stateful operator; a per-shard batch budget would silently reset
  * per call.
  *
  * Scale: the shard pays one pass per kernel stage over its own rows
  * plus one equi-join per index; nothing corpus-sized moves — the
  * property each stage proves individually carries through the
  * composition (spec: IngestPipelineSpec plants one leak of every
  * kind across two shards — including an HTML shell and a
  * boilerplate line — and checks per-doc fates).
  */
object IngestPipeline {

  /** The composed production ingest step over one arriving shard —
    * quality gate ∘ exact dedup ∘ Bloom-stage decontamination ∘
    * near-dup dedup ∘ span cut, each dedup against its persisted
    * index (the stage list above).
    *
    * `shingleN` is the MinHash shingle size (near-dup candidate
    * generation); `decontamN` the decontamination n-gram size (eval
    * leakage test) — separate knobs sharing a default, so tuning the
    * leak gram length never silently changes near-dup semantics.
    * `commitTag` (e.g. a streaming batchId) fans out to each stage's
    * index append with a stage suffix, making every index mutation
    * replay-idempotent ([[IndexStore]] tags).
    *
    * The web front door is opt-in per column: `htmlCol` turns on
    * extraction + the markup screen (`minTextShare` /
    * `maxLinkDensity` thresholds) and the extracted text BECOMES
    * `textCol` downstream; `urlCol` + `urlIndexPath` turn on URL
    * normalize + URL-level exact dedup (`publicSuffixes` feeds the
    * data-driven registrable-domain rule; un-parseable URLs never
    * URL-dedup — each gets a per-doc sentinel canonical form).
    * `lineIndexPath` turns on the incremental line cut between the
    * near-dup and span stages.
    *
    * Multi-shard composition hooks (r16 — semantics identical, the
    * driver just stops idling between shards):
    * `preparedBloom` shares ONE bench-side Bloom build across shards
    * (the bench set does not change between shards; the thunk is a
    * [[Concurrent.forkValue]] join, so the build overlaps the first
    * shard's front door). `pinnedFront` is [[pinnedFrontDoor]] over
    * THIS shard — per-doc deterministic, so a caller forks the next
    * shard's extraction while the current shard ingests.
    * `externalBarrier` shares one [[AppendBarrier]] across shards:
    * each stage awaits only ITS index's in-flight appends
    * (awaitFor), so the previous shard's later-stage appends overlap
    * this shard's front door; the CALLER must await() the barrier
    * before using the results — only then is the sequential
    * cross-shard index contract re-established externally.
    */
  def ingestShard(shard: DataFrame, bench: DataFrame,
                  digestIndexPath: String, minhashIndexPath: String,
                  spanIndexPath: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  keyCol: String = "source",
                  minTokens: Long = 25, maxDupFrac: Double = 0.55,
                  k: Int = 16, bands: Int = 4, shingleN: Int = 3,
                  threshold: Double = 0.5, spanN: Int = 8,
                  decontamN: Int = 3, decontamMinHits: Int = 2,
                  expectedGrams: Long = 1L << 20,
                  fpp: Double = 0.03,
                  commitTag: Option[String] = None,
                  htmlCol: Option[String] = None,
                  minTextShare: Double = 0.05,
                  maxLinkDensity: Double = 0.9,
                  urlCol: Option[String] = None,
                  urlIndexPath: Option[String] = None,
                  publicSuffixes: Option[Set[String]] = None,
                  lineIndexPath: Option[String] = None,
                  preparedBloom: Option[() => Decontaminate.PreparedBloom] = None,
                  pinnedFront: Option[DataFrame] = None,
                  externalBarrier: Option[AppendBarrier] = None): DataFrame = {
    require(urlCol.isEmpty == urlIndexPath.isEmpty,
      "urlCol and urlIndexPath enable URL dedup together — pass both or neither")
    require(pinnedFront.isEmpty || urlCol.isDefined,
      "pinnedFront is the URL-stage digest table — it requires the URL front door")
    val spark = shard.sparkSession
    // first-shard convenience: absent indexes initialize empty
    // (schema-anchored). An interrupted compaction can no longer
    // masquerade as a missing index: IndexStore compaction commits by
    // manifest, so the index stays present (and readable) through
    // every maintenance crash.
    val empty = shard.where(lit(false)).withColumn(textCol, lit(""))
    // the missing-index inits are independent single-anchor writes to
    // DISJOINT paths — overlap them (r15: the first shard paid one
    // job-latency round per index; Concurrent.inParallel rationale).
    // The URL index init rides the same round (r16 — it previously
    // serialized inside stage 0b): a digest index over `textCol`, the
    // same (digest, min_doc) schema as the canonical-URL rows.
    val writers = Seq[(Option[String], String => Unit)](
      Some(digestIndexPath) -> (Dedup.writeDigestIndex(empty, idCol, textCol, _)),
      Some(minhashIndexPath) -> (Dedup.writeMinhashIndex(empty, idCol, textCol, _, k, shingleN)),
      Some(spanIndexPath) -> (Dedup.writeSpanGramIndex(empty, idCol, textCol, _, spanN)),
      lineIndexPath -> (Dedup.writeLineIndex(empty, idCol, textCol, _)),
      urlIndexPath -> (Dedup.writeDigestIndex(empty, idCol, textCol, _)))
    val inits = writers.collect {
      case (Some(path), write) if !IndexStore.exists(spark, path) => () => write(path)
    }
    if (inits.nonEmpty) Concurrent.inParallel(inits: _*)
    // every stage's index append is independent of downstream stage
    // compute (each stage reads only its OWN index, whose manifest
    // snapshot is taken before its append is submitted) — defer them
    // through one barrier and overlap with the rest of the shard's
    // work; awaited before return, so the next shard / the streaming
    // commit observes exactly the sequential run's index state. A
    // caller composing SEVERAL shards in one call passes a shared
    // `externalBarrier` and awaits it itself: each stage then gates
    // only on ITS index's in-flight appends (awaitFor), so the
    // previous shard's later-stage appends overlap this shard's front
    // door — every read still pins exactly the sequential run's
    // manifest for its path.
    val barrier = externalBarrier.getOrElse(new AppendBarrier)
    // the decontamination Bloom is pure bench-side work (gram
    // checkpoint + sketch collect) — fork it at entry so its two jobs
    // overlap the front door / quality / digest stages instead of
    // serializing between stages 2 and 3 (r15). A multi-shard caller
    // passes ONE `preparedBloom` thunk (the bench set does not change
    // between shards), so the sketch builds once per composition
    // instead of once per shard (r16).
    val bloomPrep = preparedBloom.getOrElse(Concurrent.forkValue(
      Decontaminate.prepareBloom(bench, textCol, decontamN, expectedGrams, fpp)))
    // a failed shard must not leave append threads mutating index
    // paths behind the failure (a streaming retry or the next shard
    // could interleave with them): join everything in flight — the
    // internally forked Bloom build too — before propagating
    val pending = Seq(() => barrier.await()) ++
      (if (preparedBloom.isEmpty) Seq(bloomPrep) else Nil)
    Concurrent.joinOnFailure(pending: _*) {
      val out = ingestStages(shard, barrier, bloomPrep,
        digestIndexPath, minhashIndexPath, spanIndexPath,
        idCol, textCol, keyCol, minTokens, maxDupFrac,
        k, bands, shingleN, threshold, spanN,
        decontamN, decontamMinHits, commitTag, htmlCol,
        minTextShare, maxLinkDensity, urlCol, urlIndexPath,
        publicSuffixes, lineIndexPath, pinnedFront)
      // every deferred index append must be durable before this
      // shard's call returns — the cross-shard sequential contract.
      // With an external barrier the CALLER owns the final await (the
      // per-stage awaitFor gates keep each read correct meanwhile).
      if (externalBarrier.isEmpty) barrier.await()
      out
    }
  }

  /** The shard's front-door kernel table for [[ingestShard]]'s URL
    * stage — HTML extraction + markup screen + URL canonicalization +
    * the URL-digest column — eagerly pinned: the exact table the URL
    * stage's [[Dedup.dedupExactIncrement]] would materialize itself.
    * Every column is per-doc deterministic (no index is read), so a
    * caller can materialize the NEXT shard's front door concurrently
    * with the current shard's ingest and pass it as `pinnedFront`.
    */
  def pinnedFrontDoor(shard: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      keyCol: String = "source",
                      htmlCol: Option[String] = None,
                      minTextShare: Double = 0.05,
                      maxLinkDensity: Double = 0.9,
                      urlCol: String = "url",
                      publicSuffixes: Option[Set[String]] = None): DataFrame =
    frontKernel(shard, idCol, textCol, keyCol, htmlCol,
      minTextShare, maxLinkDensity, urlCol, publicSuffixes)
      .localCheckpoint(true)

  /** The per-doc kernel columns of stages 0–2 in ONE table: extraction
    * + markup screen, `_norm_url` + its digest `_udg` (stage 0b),
    * the quality stats `_rn`/`_rdf` (stage 1) and the text digest
    * `_tdg` (stage 2). Every column is a deterministic function of the
    * doc alone, so ONE materialization serves three stages — the r15
    * shape paid one sequential checkpoint per stage for the same
    * bytes. The only over-computation vs the strictly-sequential
    * pipeline is `_rn`/`_rdf`/`_tdg` on URL-duplicate docs (dropped at
    * stage 0b before stage 1 would have seen them) — token-stats and
    * one md5 per dropped re-crawl, map-side, a fraction of the
    * extraction work already spent on those rows; the verdicts for
    * every surviving doc are identical (per-doc determinism).
    */
  private def frontKernel(shard: DataFrame, idCol: String, textCol: String,
                          keyCol: String, htmlCol: Option[String],
                          minTextShare: Double, maxLinkDensity: Double,
                          urlCol: String,
                          publicSuffixes: Option[Set[String]]): DataFrame =
    withNormUrl(extractFront(shard, idCol, textCol, keyCol, htmlCol,
        minTextShare, maxLinkDensity, Some(urlCol)), idCol, urlCol,
        publicSuffixes)
      .withColumn("_udg", md5(col("_norm_url")))
      .withColumn("_tdg", md5(col(textCol)))
      .withColumn("_r2", TextAnalysis.repetitionStats(col(textCol)))
      .withColumn("_rn", col("_r2.n_tokens"))
      .withColumn("_rdf", col("_r2.dup_word_frac"))
      .drop("_r2")

  /** Stage 0a: HTML extraction + markup screen (identity without
    * `htmlCol`). */
  private def extractFront(shard: DataFrame, idCol: String, textCol: String,
                           keyCol: String, htmlCol: Option[String],
                           minTextShare: Double, maxLinkDensity: Double,
                           urlCol: Option[String]): DataFrame = htmlCol match {
    case None => shard
    case Some(hc) =>
      val carried = (Seq(keyCol) ++ urlCol.toSeq).distinct.filterNot(_ == hc)
      TextAnalysis.extractHtmlTable(shard, idCol, hc, carried)
        .where(col("html_text_share") >= minTextShare &&
          col("html_link_density") <= maxLinkDensity)
        .select(Seq(col("doc_id").as(idCol), col("html_text").as(textCol)) ++
          carried.map(col): _*)
  }

  /** Stage 0b's canonical-URL column: un-parseable URLs get a per-doc
    * sentinel canonical form so they never collide with each other
    * (norm_url '' would merge every non-URL doc into one dedup group).
    */
  private def withNormUrl(extracted: DataFrame, idCol: String, uc: String,
                          publicSuffixes: Option[Set[String]]): DataFrame = {
    val parts = TextAnalysis.urlParts(coalesce(col(uc), lit("")), publicSuffixes)
    val canon = when(parts.parsed, parts.normUrl)
      .otherwise(concat(lit(" unparsed:"), col(idCol).cast("string")))
    extracted.withColumn("_norm_url", canon)
  }

  // the stage chain proper, shared by ingestShard's try wrapper
  private def ingestStages(shard: DataFrame, barrier: AppendBarrier,
                           bloomPrep: () => Decontaminate.PreparedBloom,
                           digestIndexPath: String, minhashIndexPath: String,
                           spanIndexPath: String, idCol: String,
                           textCol: String, keyCol: String, minTokens: Long,
                           maxDupFrac: Double, k: Int, bands: Int,
                           shingleN: Int, threshold: Double, spanN: Int,
                           decontamN: Int, decontamMinHits: Int,
                           commitTag: Option[String], htmlCol: Option[String],
                           minTextShare: Double, maxLinkDensity: Double,
                           urlCol: Option[String], urlIndexPath: Option[String],
                           publicSuffixes: Option[Set[String]],
                           lineIndexPath: Option[String],
                           pinnedFront: Option[DataFrame]): DataFrame = {
    // ── stages 0–2 with the URL front door: ONE kernel pin serves the
    // URL dedup, the quality gate and the text-digest dedup — the
    // three stages' kernel columns are per-doc deterministic, so they
    // ride one materialization ([[frontKernel]]) and each stage's
    // joins/filters are VIEWS over it (r16; the r15 shape paid one
    // sequential checkpoint per stage). Without the front door, the
    // classic per-stage shape below is untouched.
    val exact = (urlCol, urlIndexPath) match {
      case (Some(uc), Some(uPath)) =>
        val front = pinnedFront.getOrElse(
          frontKernel(shard, idCol, textCol, keyCol, htmlCol,
            minTextShare, maxLinkDensity, uc, publicSuffixes)
            .localCheckpoint(true))
        // stage 0b: URL-level exact dedup over the pinned kernel
        barrier.awaitFor(uPath)
        val urlKept = Dedup.dedupExactIncrement(front, idCol, "_norm_url", uPath,
            commitTag = commitTag.map(_ + ":url"), appendBarrier = Some(barrier),
            pinnedDigested = Some(front.withColumn("_dg", col("_udg"))))
          .drop("_norm_url", "_udg")
        // stage 1: quality gate — the stats are pinned kernel columns
        val qual = urlKept
          .where(col("_rn") >= minTokens && col("_rdf") <= maxDupFrac)
        // stage 2: exact-dup drop vs the digest index; the digest is
        // the pinned `_tdg` column, so no new kernel job runs
        barrier.awaitFor(digestIndexPath)
        Dedup.dedupExactIncrement(
          qual.select(col(idCol), col(textCol), col(keyCol)), idCol, textCol,
          digestIndexPath, commitTag = commitTag.map(_ + ":digest"),
          appendBarrier = Some(barrier),
          pinnedDigested = Some(qual
            .select(col(idCol), col(textCol), col(keyCol), col("_tdg").as("_dg"))))
      case _ =>
        // ── stage 0a: HTML extraction + markup screen ────────────────
        val extracted = extractFront(shard, idCol, textCol, keyCol, htmlCol,
          minTextShare, maxLinkDensity, urlCol)
        // ── stage 1: quality gate ────────────────────────────────────
        val qual = extracted
          .withColumn("_r", TextAnalysis.repetitionStats(col(textCol)))
          .where(col("_r.n_tokens") >= minTokens &&
            col("_r.dup_word_frac") <= maxDupFrac)
          .select(col(idCol), col(textCol), col(keyCol))
        // ── stage 2: exact-dup drop vs the digest index ──────────────
        barrier.awaitFor(digestIndexPath)
        Dedup.dedupExactIncrement(qual, idCol, textCol,
          digestIndexPath, commitTag = commitTag.map(_ + ":digest"),
          appendBarrier = Some(barrier))
    }
    // ── stage 3: decontamination BEFORE the near-dup stage: a
    // contaminated doc must never register MinHash signatures
    // (scaladoc invariant)
    val clean = Decontaminate.overlapBloomPrepared(exact, bloomPrep(),
        idCol, textCol, decontamN, decontamMinHits)
      .where(!col("contaminated"))
      .drop("n_hits", "contaminated")
      // eager pin: the admitted-set chain (keep-joins + the Bloom
      // decontam gram explode) has TWO downstream materializations
      // (the signature pin and the near pin) — unpinned, the whole
      // chain re-executed in each (r15 shape); pinned, it runs once
      .localCheckpoint(true)
    // eager pin: the admitted set feeds the line/span increments
    // (gram passes + cuts) AND the key rejoin below — unpinned, each
    // branch would re-run the whole front-door/quality/digest/
    // decontam/LSH chain upstream
    // ── stage 4: near-dup drop vs the MinHash index ──────────────────
    barrier.awaitFor(minhashIndexPath)
    val near = Dedup.dedupIncrement(clean, idCol, textCol,
        minhashIndexPath, k, bands, shingleN, threshold,
        commitTag = commitTag.map(_ + ":minhash"),
        appendBarrier = Some(barrier))
      .localCheckpoint(true)
    // ── stage 5 (optional): line cut BEFORE span registration ────────
    val lineClean = lineIndexPath match {
      case None => near
      case Some(lp) =>
        barrier.awaitFor(lp)
        Dedup.removeDuplicateLinesIncrement(near, idCol, textCol, lp,
            commitTag = commitTag.map(_ + ":line"),
            appendBarrier = Some(barrier),
            // `near` is already pinned: the line explode re-runs
            // map-side per consumer over the checkpoint instead of
            // paying its own sequential checkpoint job (r16)
            pinnedLines = Some(Dedup.lineRows(near, idCol, textCol)))
          .select(col("doc_id").as(idCol), col("clean_text").as(textCol))
          // pin: the span increment consumes this twice (gram pass +
          // cut); unpinned it would re-run the line join per consumer
          .localCheckpoint(true)
    }
    // ── stage 6: span cut (rewrites the text); key rejoins below ─────
    barrier.awaitFor(spanIndexPath)
    Dedup.removeDuplicateSpansIncrement(lineClean, idCol, textCol,
        spanIndexPath, spanN, commitTag = commitTag.map(_ + ":span"),
        appendBarrier = Some(barrier),
        // `lineClean` is already pinned: the map-only gram explode
        // re-runs per consumer over the checkpoint instead of paying
        // its own sequential checkpoint job (r16; see Dedup.spanGrams)
        pinnedGrams = Some(Dedup.spanGrams(lineClean, idCol, textCol, spanN)))
      .join(near.select(col(idCol).as("doc_id"), col(keyCol)), Seq("doc_id"))
      .select(col("doc_id"), col(keyCol), col("clean_text"),
        col("n_kept").as("n_tokens"))
  }

  /** One index's before/after view from [[maintainIndexes]] — the
    * numbers the streaming artifact records (manifest growth is the
    * thing maintenance exists to bound).
    */
  final case class MaintenanceReport(path: String, family: String,
                                     before: IndexStore.Stats,
                                     compacted: Boolean,
                                     after: IndexStore.Stats) {
    /** Approximate manifest line count (entries + tags + watermarks). */
    def manifestLines(s: IndexStore.Stats): Int =
      s.nDataLeaves + s.nAnchors + s.nTags + s.nTagMarks
  }

  /** One maintenance pass over a set of persisted pipeline indexes —
    * the piece that makes a MONTH-long micro-batch stream viable:
    * without it, every ingest tick appends one data directory and one
    * idempotence tag line to each manifest, forever. Per index:
    * checkpoint the tag list ([[IndexStore.retireTags]] with
    * `tagRetention`), then, when the index holds more than one data
    * directory, fold them into one (the family's
    * [[IncrementalIndex.compact]]). Results are NEVER changed by
    * maintenance — every family's read path aggregates the same
    * minima the compaction folds.
    *
    * `indexes` pairs each path with its [[IncrementalIndex]] family:
    * `"digest"` (also the URL index — same (digest, min_doc) shape),
    * `"minhash"`, `"span"`, `"line"`; an unknown name throws
    * IllegalArgumentException before any index is touched. Stats are
    * manifest-only reads. Safe to call from a
    * [[graft.streaming.Streams.exactlyOnce]] per-batch function — the
    * single-writer contract the streaming sink already holds covers
    * maintenance too.
    */
  def maintainIndexes(spark: SparkSession, indexes: Seq[(String, String)],
                      tagRetention: Int = 1024): Seq[MaintenanceReport] = {
    // every family resolves before any manifest is touched: a bad name
    // fails the whole pass, never half-way through it
    val resolved = indexes.map { case (path, family) =>
      (path, family, IncrementalIndex.named(family).getOrElse(
        throw new IllegalArgumentException(s"unknown index family '$family' for $path")))
    }
    resolved.flatMap { case (path, family, index) =>
      IndexStore.stats(spark, path).map { before =>
        IndexStore.retireTags(spark, path, tagRetention)
        // more than one data directory
        val doCompact = before.nDirtyPrefixes > 0
        if (doCompact) index.compact(spark, path)
        val after = IndexStore.stats(spark, path).getOrElse(before)
        MaintenanceReport(path, family, before, doCompact, after)
      }
    }
  }
}
