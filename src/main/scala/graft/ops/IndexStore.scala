package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path}

/** Manifest-committed storage for the persisted-index families (listed
  * in [[IncrementalIndex]]) and the ANN index tables. The index directory is
  * append-only data plus a tiny commit log:
  *
  * {{{
  *   <path>/manifest/v00000001, v00000002, ...   one small text file per commit
  *   <path>/data-<uuid>/_pfx=<p>/part-*.parquet  a commit's rows, hash-prefix partitioned
  *   <path>/anchor-<uuid>/part-*.parquet         zero-row schema anchor (empty index)
  * }}}
  *
  * The CURRENT state of the index is defined by the highest complete
  * manifest version: a manifest lists the data directories that are
  * live, carries every idempotence tag ever committed, and ends with
  * a terminator line so a crash mid-write is detectable (readers skip
  * incomplete versions). Appends and compaction both commit by
  * writing the NEXT manifest version — never by renaming data
  * directories — which closes the two windows the rename-swap
  * maintenance had:
  *
  *   - '''crash-safety''': a compaction that dies before its manifest
  *     commit leaves the previous manifest (and every byte it points
  *     to) untouched; the rewritten files are an orphan directory a
  *     later [[vacuum]] reclaims. There is no instant at which the
  *     index path is missing or half-swapped.
  *   - '''append/compact interleave''': compaction snapshots version
  *     `k`, rewrites `k`'s leaves, then commits against the LATEST
  *     version — any append that landed after `k` is carried forward
  *     (its leaves are not in the rewritten set), so neither writer
  *     loses rows and no quiesce window is required.
  *
  * '''Idempotence tags''' make appends replay-safe: a commit carrying
  * `tag` is skipped when any prior manifest already recorded that tag
  * — the mechanism the streaming foreachBatch sinks use to turn
  * at-least-once micro-batch delivery into exactly-once index
  * mutation (tag = the batchId). Tags do NOT accumulate forever:
  * [[retireTags]] (run on every [[compact]] pass) rolls numeric-headed
  * tags older than the retention window into one per-suffix
  * `w <N> <suffix>` watermark line — "every batchId ≤ N committed" —
  * so the manifest stays O(#entries + retention) lines at any ingest
  * cadence instead of growing one tag line per batch for the index's
  * life.
  *
  * '''Layout''': each commit's rows land hash-prefix partitioned
  * (`_pfx=` directory partitioning on a caller-supplied derivation of
  * the index key, e.g. `substr(digest, 1, 1)`), so [[compact]]
  * touches ONLY partitions that accumulated more than one leaf —
  * at a steady ingest cadence most of a mature index is already
  * compacted and each maintenance pass rewrites the dirty fraction,
  * not the corpus-sized whole.
  *
  * '''Concurrency contract''': manifest versions are claimed by
  * exclusive create (`fs.create(..., overwrite = false)`), the
  * put-if-absent HDFS and POSIX honor; within a JVM the claim window
  * is additionally serialized per path, so a streaming query and a
  * maintenance thread interleave safely. Multi-JVM writers need a
  * filesystem whose exclusive create is atomic (HDFS, POSIX) — on an
  * object store, front the manifest directory with a conditional-put
  * (the same requirement every file-listing table format has).
  *
  * '''Scale''': reading the index is one small-manifest read plus a
  * parquet scan over the listed directories — file listing stays
  * distributed, nothing is collected; the manifest itself is
  * O(#uncompacted commits + #tags) lines of text.
  */
object IndexStore {

  private val Header = "#graft-index-manifest 1"
  private val End = "#END"
  private val VersionRe = "^v(\\d{8,})$".r

  /** Per-path JVM lock striping for the claim window. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  /** A complete manifest version: live data directories (relative to
    * the index path), the idempotence tags still carried verbatim,
    * and the per-suffix retirement watermarks — `marks(sfx) = N`
    * summarizes every retired tag `<k>` / `<k>:<sfx>` with k ≤ N
    * in one line (see [[retireTags]]).
    */
  final case class Snapshot(version: Long, entries: Seq[String], tags: Set[String],
                            marks: Map[String, Long] = Map.empty) {
    /** True iff `tag` is recorded — verbatim, or via a watermark. */
    def covers(tag: String): Boolean =
      tags.contains(tag) || tagParts(tag).exists {
        case (n, sfx) => marks.get(sfx).exists(n <= _)
      }
  }

  /** Numeric head + suffix of a retirable tag: `"17"` → (17, ""),
    * `"17:codes"` → (17, "codes"). Tags without an all-digit head (or
    * with whitespace in the suffix, which the line format can't carry)
    * are never retired — they stay verbatim forever, the generic-string
    * fallback.
    */
  private[graft] def tagParts(tag: String): Option[(Long, String)] = {
    val cut = tag.indexOf(':')
    val (head, sfx) = if (cut < 0) (tag, "") else (tag.substring(0, cut), tag.substring(cut + 1))
    if (head.nonEmpty && head.length <= 18 && head.forall(_.isDigit) &&
      sfx.forall(c => !c.isWhitespace))
      Some(head.toLong -> sfx)
    else None
  }

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestDir(path: String) = new Path(path, "manifest")

  /** True iff `path` holds an index with at least one complete
    * manifest version.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    currentOpt(fsFor(spark, path), path).isDefined

  /** Highest COMPLETE manifest version, or None for a fresh path.
    * Incomplete files (a crashed committer) are skipped for reading
    * but their version numbers stay burned — the next commit claims
    * a strictly higher one.
    */
  private def currentOpt(fs: FileSystem, path: String): Option[Snapshot] = {
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return None
    val versions = fs.listStatus(dir).toSeq
      .flatMap(st => st.getPath.getName match {
        case VersionRe(v) => Some(v.toLong -> st.getPath)
        case _ => None
      })
      .sortBy(-_._1)
    versions.iterator.flatMap { case (v, p) => readManifest(fs, p, v) }
      .nextOption()
  }

  /** Highest burned version number, complete or not — the floor for
    * the next claim.
    */
  private def maxBurned(fs: FileSystem, path: String): Long = {
    val dir = manifestDir(path)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case VersionRe(v) => Some(v.toLong)
      case _ => None
    }).maxOption.getOrElse(0L)
  }

  private def readManifest(fs: FileSystem, p: Path, v: Long): Option[Snapshot] = {
    val in = fs.open(p)
    val text =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
    val lines = text.split("\n", -1).toSeq
    if (lines.headOption.getOrElse("") != Header || !lines.contains(End)) None
    else {
      val body = lines.drop(1).takeWhile(_ != End)
      Some(Snapshot(v,
        body.collect { case l if l.startsWith("e ") => l.drop(2) },
        body.collect { case l if l.startsWith("t ") => l.drop(2) }.toSet,
        body.collect { case l if l.startsWith("w ") =>
          val parts = l.drop(2).split(" ", 2)
          (if (parts.length == 2) parts(1) else "") -> parts(0).toLong
        }.toMap))
    }
  }

  /** Claim-and-write the next manifest version. `build` receives the
    * latest snapshot (None on a fresh path) and returns the new entry
    * list + tag set + watermarks, or None to abort (e.g. tag already
    * present). Returns true iff a new version was committed.
    */
  private def commit(fs: FileSystem, path: String)
                    (build: Option[Snapshot] => Option[(Seq[String], Set[String], Map[String, Long])]): Boolean =
    lockFor(new Path(path).toUri.toString).synchronized {
      val dir = manifestDir(path)
      if (!fs.exists(dir)) fs.mkdirs(dir)
      var committed = false
      var done = false
      while (!done) {
        val snap = currentOpt(fs, path)
        build(snap) match {
          case None => done = true
          case Some((entries, tags, marks)) =>
            val next = math.max(maxBurned(fs, path), snap.map(_.version).getOrElse(0L)) + 1
            val target = new Path(dir, f"v$next%08d")
            // only a CLAIM failure retries (the version was taken by a
            // concurrent writer — the target exists); any other
            // IOException is a genuinely failing filesystem and must
            // throw, not spin forever burning version numbers. A
            // failure AFTER the claim (write/close) also throws — the
            // half-written file has no terminator, so readers skip it.
            val claim =
              try Some(fs.create(target, false))
              catch {
                case e: java.io.IOException =>
                  if (fs.exists(target)) None else throw e
              }
            claim match {
              case None => // version taken — retry with the next one
              case Some(out) =>
                try {
                  val sb = new StringBuilder(Header).append('\n')
                  marks.toSeq.sorted.foreach { case (sfx, n) =>
                    sb.append("w ").append(n)
                    if (sfx.nonEmpty) sb.append(' ').append(sfx)
                    sb.append('\n')
                  }
                  tags.toSeq.sorted.foreach(t => sb.append("t ").append(t).append('\n'))
                  entries.foreach(e => sb.append("e ").append(e).append('\n'))
                  sb.append(End).append('\n')
                  out.write(sb.toString.getBytes("UTF-8"))
                } finally out.close()
                committed = true
                done = true
            }
        }
      }
      committed
    }

  /** Read the live index as one DataFrame. Fails loudly on a path
    * with no complete manifest — callers that tolerate a fresh index
    * gate on [[exists]] and [[init]] first.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val snap = currentOpt(fsFor(spark, path), path).getOrElse(
      throw new java.io.FileNotFoundException(
        s"IndexStore.read: no complete manifest under $path/manifest — not an index " +
          "(initialize with IndexStore.init or an append)"))
    if (snap.entries.isEmpty)
      throw new IllegalStateException(
        s"IndexStore.read: manifest v${snap.version} at $path lists no data directories")
    spark.read.parquet(snap.entries.map(e => s"$path/$e"): _*)
  }

  /** Initialize an EMPTY index: one zero-row schema-carrying anchor
    * file (an empty-partition parquet task still writes a footer), so
    * the first [[read]] never fails schema inference. No-op if the
    * index already exists.
    */
  def init(spark: SparkSession, path: String, schema: StructType): Unit = {
    val fs = fsFor(spark, path)
    commit(fs, path) {
      case Some(_) => None // already initialized
      case None =>
        val anchor = writeAnchor(spark, path, schema)
        Some((Seq(anchor), Set.empty, Map.empty))
    }
  }

  private def writeAnchor(spark: SparkSession, path: String, schema: StructType): String = {
    val name = s"anchor-${java.util.UUID.randomUUID().toString.take(12)}"
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1), schema)
      .write.mode("overwrite").parquet(s"$path/$name")
    name
  }

  /** Commit `df` as a new append. Rows land under a fresh
    * `data-<uuid>` directory, hash-prefix partitioned by `pfx`
    * (a derivation of the index key — rows with equal keys must map
    * to equal prefixes, so per-partition compaction folds globally).
    * A `tag` makes the commit idempotent: if any prior manifest
    * recorded it, nothing is written and false returns. An absent
    * manifest initializes implicitly with this commit's rows.
    * Rows shuffle once on the prefix (`parts` targets, default = one
    * writer per prefix group) so each append lands ONE file per
    * touched prefix — an unshuffled partitionBy write would emit
    * #tasks × #prefixes tiny files and every future index read would
    * pay their footers. Returns true iff a new version committed.
    */
  def append(df: DataFrame, path: String, pfx: Column,
             tag: Option[String] = None, parts: Int = 16): Boolean = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    // cheap pre-check outside the write: a replayed batch skips the
    // data write entirely, not just the manifest line
    if (tag.exists(t => currentOpt(fs, path).exists(_.covers(t))))
      return false
    val name = s"data-${java.util.UUID.randomUUID().toString.take(12)}"
    df.withColumn("_pfx", pfx.cast("string"))
      .repartition(parts, col("_pfx"))
      .write.partitionBy("_pfx").mode("overwrite").parquet(s"$path/$name")
    // a zero-row frame writes no partition directories — the commit
    // then records only the tag (and an anchor on a fresh path)
    val leaves = leafDirs(fs, path, name)
    commit(fs, path) { snapOpt =>
      if (tag.exists(t => snapOpt.exists(_.covers(t)))) None
      else {
        val prior = snapOpt.map(_.entries).getOrElse(Seq.empty)
        val entries =
          if (prior.isEmpty && leaves.isEmpty)
            Seq(writeAnchor(spark, path, df.schema))
          else prior ++ leaves
        Some((entries, snapOpt.map(_.tags).getOrElse(Set.empty) ++ tag,
          snapOpt.map(_.marks).getOrElse(Map.empty)))
      }
    }
  }

  private def leafDirs(fs: FileSystem, path: String, dataDir: String): Seq[String] = {
    val p = new Path(s"$path/$dataDir")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_pfx="))
      .map(st => s"$dataDir/${st.getPath.getName}")
      .sorted
  }

  private def pfxOf(entry: String): String = {
    val base = entry.substring(entry.lastIndexOf('/') + 1)
    if (base.startsWith("_pfx=")) base.drop(5) else ""
  }

  /** Rewrite the index's DIRTY partitions — prefix groups holding
    * more than one leaf directory (touched by several commits since
    * the last maintenance) — folding rows through `transform` (e.g.
    * the per-gram minima merge) and landing the result as one fresh
    * partitioned data directory. Clean partitions are not read, not
    * rewritten, and keep their manifest entries — the property that
    * keeps maintenance proportional to the uncompacted fraction
    * instead of the corpus. With `dirtyOnly = false` every partition
    * rewrites (full defrag). Anchors survive only while the index
    * has no data. Commits against the LATEST manifest, so appends
    * landing mid-compaction are carried forward untouched.
    */
  def compact(spark: SparkSession, path: String, pfx: Column,
              transform: DataFrame => DataFrame = identity,
              parts: Int = 32, dirtyOnly: Boolean = true,
              tagRetention: Int = 1024): Unit = {
    val fs = fsFor(spark, path)
    // maintenance time is also tag-checkpoint time: without it the
    // manifest's tag list grows one line per ingest batch forever
    // (O(n²) cumulative manifest bytes at micro-batch cadence)
    retireTags(spark, path, tagRetention)
    val snap = currentOpt(fs, path).getOrElse(return)
    val dataLeaves = snap.entries.filter(_.contains("_pfx="))
    val byPfx = dataLeaves.groupBy(pfxOf)
    val victim = byPfx.filter { case (_, ls) => !dirtyOnly || ls.size > 1 }
      .values.flatten.toSeq.sorted
    if (victim.isEmpty) return
    val name = s"data-${java.util.UUID.randomUUID().toString.take(12)}"
    val folded = transform(spark.read.parquet(victim.map(e => s"$path/$e"): _*))
    folded
      .withColumn("_pfx", pfx.cast("string"))
      .repartition(parts, col("_pfx"))
      .write.partitionBy("_pfx").mode("overwrite").parquet(s"$path/$name")
    val leaves = leafDirs(fs, path, name)
    val victimSet = victim.toSet
    commit(fs, path) { snapOpt =>
      val latest = snapOpt.getOrElse(Snapshot(0L, Seq.empty, Set.empty))
      val all = latest.entries.filterNot(victimSet) ++ leaves
      val (anch, data) = all.partition(e => !e.contains("_pfx="))
      // anchors are redundant once real data exists; an index whose
      // every row folded away keeps (or mints) one to stay readable
      val entries =
        if (data.nonEmpty) data
        else if (anch.nonEmpty) anch
        else Seq(writeAnchor(spark, path, folded.schema))
      Some((entries, latest.tags, latest.marks))
    }
  }

  /** Checkpoint the manifest's tag list: tags with a numeric head
    * (`<batchId>` or `<batchId>:<suffix>` — the shape every streaming
    * sink emits) retire once they fall `keepLast` below the highest
    * head seen for their suffix, compressing into ONE `w <N> <suffix>`
    * watermark line meaning "every batchId ≤ N is committed". Replay
    * idempotence is exact within the retention window (verbatim tags)
    * and watermark-summarized below it — sound because batchIds are
    * issued monotonically per suffix, so a sub-watermark replay can
    * only be a batch that already committed. Non-numeric tags never
    * retire. Manifest-only (no data file moves); a no-op commit is
    * skipped. [[compact]] calls this on every maintenance pass, which
    * bounds the manifest at O(#entries + keepLast·#suffixes) lines
    * instead of one line per ingest batch forever.
    */
  def retireTags(spark: SparkSession, path: String, keepLast: Int = 1024): Unit = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val fs = fsFor(spark, path)
    commit(fs, path) { snapOpt =>
      snapOpt.flatMap { snap =>
        val parsed = snap.tags.toSeq
          .flatMap(t => tagParts(t).map { case (n, s) => (t, n, s) })
        // watermarks only advance (a mark that moved backwards would
        // un-cover a retired tag and re-admit its replay)
        val marks = snap.marks ++ parsed.groupBy(_._3).flatMap { case (sfx, ts) =>
          val cand = ts.map(_._2).max - keepLast.toLong
          if (cand >= 0L && snap.marks.get(sfx).forall(_ < cand)) Some(sfx -> cand)
          else None
        }
        val retired = parsed.collect {
          case (t, n, s) if marks.get(s).exists(n <= _) => t
        }.toSet
        if (retired.isEmpty && marks == snap.marks) None // nothing to checkpoint
        else Some((snap.entries, snap.tags -- retired, marks))
      }
    }
  }

  /** Delete data directories no longer referenced by the CURRENT
    * manifest — compaction victims and crashed commits. Run from a
    * maintenance window: an append IN FLIGHT (data written, manifest
    * not yet committed) is indistinguishable from an orphan, the same
    * single-vacuumer contract every file-listing table format has.
    */
  def vacuum(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val snap = currentOpt(fs, path).getOrElse(return)
    val liveRoots = snap.entries.map(e => e.split("/", 2)(0)).toSet
    fs.listStatus(new Path(path)).toSeq
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("data-") || st.getPath.getName.startsWith("anchor-")) &&
        !liveRoots.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Leaf directories of the current manifest, relative to `path` —
    * the observable layout (specs assert dirty-partition rewrites
    * against it).
    */
  def liveEntries(spark: SparkSession, path: String): Seq[String] =
    currentOpt(fsFor(spark, path), path).map(_.entries).getOrElse(Seq.empty)

  /** True iff `tag` was recorded by any committed version — verbatim
    * within the retention window, or via a [[retireTags]] watermark
    * below it.
    */
  def hasTag(spark: SparkSession, path: String, tag: String): Boolean =
    currentOpt(fsFor(spark, path), path).exists(_.covers(tag))

  /** Health summary of the current manifest — the numbers a
    * maintenance scheduler needs: how fragmented each prefix group is
    * (leaves accumulate one per append until a compaction folds
    * them), how many groups [[compact]] would rewrite, and how many
    * idempotence tags the manifest carries (each a completed ingest
    * batch). Manifest-only: no data file is opened, so the check is
    * safe to run on every ingest tick.
    */
  final case class Stats(version: Long, nDataLeaves: Int, nAnchors: Int,
                         nTags: Int, nPrefixes: Int, nDirtyPrefixes: Int,
                         maxLeavesPerPrefix: Int, nTagMarks: Int = 0) {
    /** The fraction of prefix groups a dirty-only [[compact]] would
      * rewrite — the index's fragmentation measure. */
    def dirtyFraction: Double =
      if (nPrefixes == 0) 0.0 else nDirtyPrefixes.toDouble / nPrefixes
  }

  /** [[Stats]] for the index at `path`, or None for a path with no
    * committed manifest. An ANN index ROOT has no manifest of its own
    * (its two growing stores keep theirs under `pq_codes` /
    * `lsh_buckets`), so this returns None there — use
    * [[AnnIndex.stats]].
    */
  def stats(spark: SparkSession, path: String): Option[Stats] =
    currentOpt(fsFor(spark, path), path).map { snap =>
      val (anchors, data) = snap.entries.partition(e => !e.contains("_pfx="))
      val byPfx = data.groupBy(pfxOf)
      Stats(snap.version, data.size, anchors.size, snap.tags.size,
        byPfx.size, byPfx.count(_._2.size > 1),
        if (byPfx.isEmpty) 0 else byPfx.valuesIterator.map(_.size).max,
        snap.marks.size)
    }

  /** Destroy the index directory (the `append = false` reset path of
    * the write helpers).
    */
  def reset(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val p = new Path(path)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
