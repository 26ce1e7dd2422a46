package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted dedup-index family: the [[IndexStore]] table every new
  * shard is probed against and then appended to. The four families
  * are the only ones graft persists, and this is the one place they are
  * listed:
  *
  *  - [[IncrementalIndex.Digest]] — exact-dup document digests, one
  *    (digest, min_doc) row per distinct digest (also the URL index of
  *    the web front door, over the canonical URL);
  *    [[Dedup.dedupExactIncrement]].
  *  - [[IncrementalIndex.Minhash]] — MinHash signatures, one wide
  *    (id, sig0..sig{k-1}) row per ingested doc; [[Dedup.dedupIncrement]].
  *  - [[IncrementalIndex.Span]] — span-gram hashes, one (gh, min_doc) row
  *    per distinct token n-gram; [[Dedup.removeDuplicateSpansIncrement]].
  *  - [[IncrementalIndex.Line]] — line hashes, one (lh, min_doc) row per
  *    distinct non-blank line; [[Dedup.removeDuplicateLinesIncrement]].
  *
  * A family is its KEY column and whether it keeps a `min_doc` per
  * key; the [[IndexStore]] layout does not depend on the key. `min_doc`
  * (the smallest doc id that contributed the key) is what makes a
  * RETRY of an already-appended shard verdict-stable: each increment's
  * probe keeps only index rows with `min_doc < doc_id`, so a doc's own
  * appended rows can never mark it. The same per-key minimum is the
  * row kernel (occurrences → index rows), the compaction fold (per-shard
  * rows → one row per key) and the probe aggregate, so compaction
  * never changes a verdict. MinHash rows are per document and all
  * load-bearing: no fold, compaction rewrites file layout only.
  *
  * Each increment keeps its own probe rule in [[Dedup]]; this value
  * owns everything else: write, append (inline or deferred through an
  * [[AppendBarrier]]), read, compact and the pin-or-read snapshot.
  */
final class IncrementalIndex private (val family: String, key: String,
                                      keepsMinDoc: Boolean) {

  /** Index rows from an occurrence table holding this family's key
    * column and `doc_id`: one (key, min_doc) row per distinct key,
    * `min_doc` the smallest `doc_id` — the table itself for MinHash.
    */
  def rows(occurrences: DataFrame): DataFrame =
    if (keepsMinDoc) minPerKey(occurrences, "doc_id", "min_doc") else occurrences

  private def minPerKey(df: DataFrame, docCol: String, as: String): DataFrame =
    df.groupBy(col(key)).agg(min(col(docCol)).as(as))

  /** Persist `rows` as the index at `path`: a fresh index unless
    * `append`; `tag` makes an append replay-idempotent ([[IndexStore]]).
    * A zero-row frame still leaves a schema-carrying anchor.
    */
  def write(rows: DataFrame, path: String, append: Boolean = false,
            tag: Option[String] = None): Unit = {
    if (!append) IndexStore.reset(rows.sparkSession, path)
    IndexStore.append(rows, path, tag)
  }

  /** [[write]] of `rows`, eagerly pinned, returning the pin — the build
    * half of a build-then-probe composition: the probe takes the pin as
    * its `pinnedIndex` instead of re-reading the files just written.
    */
  def build(rows: DataFrame, path: String): DataFrame = {
    val pinned = rows.localCheckpoint(true)
    write(pinned, path)
    pinned
  }

  /** An increment's append of its own rows: run now, or deferred
    * through `barrier` so a composed pipeline overlaps it with later
    * stages. `rows` is built on the appending thread.
    */
  def append(rows: => DataFrame, path: String, tag: Option[String],
             barrier: Option[AppendBarrier]): Unit = {
    def run(): Unit = IndexStore.append(rows, path, tag)
    barrier match {
      case Some(b) => b.submitFor(path)(run())
      case None => run()
    }
  }

  /** The live index rows, possibly several per key (one per append). */
  def read(spark: SparkSession, path: String): DataFrame =
    IndexStore.read(spark, path)

  /** The probe side of an increment: `pinned` (rows the caller just
    * built, see [[build]]) or else the current manifest's rows; for a
    * min_doc family, folded to one (key, `_imn`) row per key whatever
    * the append history.
    */
  def snapshot(spark: SparkSession, path: String,
               pinned: Option[DataFrame] = None): DataFrame = {
    val live = pinned.getOrElse(read(spark, path))
    if (keepsMinDoc) minPerKey(live, "min_doc", "_imn") else live
  }

  /** Fold the index's append-accumulated data directories into one
    * ([[IndexStore.compact]]): per-key minima merge to one row per key.
    * Verdicts are unchanged — the probe folds the same minima at read
    * time.
    */
  def compact(spark: SparkSession, path: String): Unit =
    IndexStore.compact(spark, path,
      if (keepsMinDoc) minPerKey(_, "min_doc", "min_doc") else identity)
}

object IncrementalIndex {
  val Digest = new IncrementalIndex("digest", "digest", keepsMinDoc = true)
  val Minhash = new IncrementalIndex("minhash", "id", keepsMinDoc = false)
  val Span = new IncrementalIndex("span", "gh", keepsMinDoc = true)
  val Line = new IncrementalIndex("line", "lh", keepsMinDoc = true)

  /** The family called `family` ("digest", "minhash", "span", "line"). */
  def named(family: String): Option[IncrementalIndex] =
    Seq(Digest, Minhash, Span, Line).find(_.family == family)
}
