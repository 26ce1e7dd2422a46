package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The manifest-committed index store: tag idempotence, one data
  * directory per commit, compaction into one directory, append/compact
  * interleave, crash recovery (orphan data dirs, incomplete
  * manifests), and manifests written with the earlier hash-prefix
  * layout.
  */
class IndexStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def tmp() = graft.TempDir("graft_idx").toString

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("init/append/read: anchors carry schema, tags are idempotent, _pfx never leaks") {
    val path = tmp()
    val shard = Seq((0L, 10L), (1L, 11L), (5L, 12L)).toDF("gh", "min_doc")
    IndexStore.init(spark, path, shard.schema)
    // a fresh index reads as zero rows with the right schema
    val fresh = IndexStore.read(spark, path)
    assert(fresh.columns.toSeq == Seq("gh", "min_doc") && fresh.count() == 0)

    assert(IndexStore.append(shard, path, Some("s1")))
    // replayed tag: nothing written, nothing duplicated
    assert(!IndexStore.append(shard, path, Some("s1")))
    val got = IndexStore.read(spark, path)
    assert(got.columns.toSeq == Seq("gh", "min_doc"), "no layout column may leak")
    assert(rows(got) == rows(shard))
    assert(IndexStore.hasTag(spark, path, "s1") && !IndexStore.hasTag(spark, path, "s2"))

    // a zero-row tagged append still records its tag (an empty shard
    // is a completed shard)
    assert(IndexStore.append(shard.where(lit(false)), path, Some("s2")))
    assert(IndexStore.hasTag(spark, path, "s2"))
    assert(rows(IndexStore.read(spark, path)) == rows(shard))
  }

  test("an append writes one plain data directory, no prefix partitions") {
    val path = tmp()
    val shard = (0L until 16L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
      .repartition(4)
    IndexStore.append(shard, path)
    val entries = IndexStore.liveEntries(spark, path)
    assert(entries.size == 1 && entries.head.startsWith("data-") && !entries.head.contains("/"))
    val listed = new java.io.File(s"$path/${entries.head}").listFiles().toSeq
    assert(!listed.exists(_.isDirectory), s"no partition directories: ${listed.map(_.getName)}")
    // AQE sizes the file count from the bytes: a tiny commit is one file
    assert(listed.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) == 1)
    assert(rows(IndexStore.read(spark, path)) == rows(shard))
  }

  test("compaction folds every data directory into one, per key") {
    val path = tmp()
    val s1 = (0L until 16L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
    val s2 = Seq((0L, 90L), (4L, 95L), (1L, 201L), (5L, 202L)).toDF("gh", "min_doc")
    IndexStore.append(s1, path)
    IndexStore.append(s2, path)
    val before = IndexStore.liveEntries(spark, path)
    assert(before.size == 2)

    IndexStore.compact(spark, path,
      _.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc")))
    val after = IndexStore.liveEntries(spark, path)
    // one fresh data directory after compaction
    assert(after.size == 1 && after.head.startsWith("data-") && !before.contains(after.head))
    // content: global per-gram minima over both shards, one row per gh
    val got = IndexStore.read(spark, path)
    val want = s1.union(s2).groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc"))
    assert(rows(got) == rows(want))
    assert(got.count() == got.select("gh").distinct().count())
  }

  test("a manifest with earlier-layout prefix leaves reads, compacts, vacuums") {
    val path = tmp()
    // two commits written by the earlier layout: each data directory
    // holds one leaf per hash prefix, and the manifest lists the leaves
    def writeOld(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
      df.withColumn("_pfx", pmod(col("gh"), lit(2)).cast("string"))
        .write.partitionBy("_pfx").parquet(s"$path/$dir")
    val old1 = (0L until 6L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
    val old2 = Seq((0L, 90L), (2L, 300L)).toDF("gh", "min_doc")
    writeOld(old1, "data-old1")
    writeOld(old2, "data-old2")
    new java.io.File(s"$path/manifest").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/manifest/v00000001"),
      ("#graft-index-manifest 1\nt 7\ne data-old1/_pfx=0\ne data-old1/_pfx=1\n" +
        "e data-old2/_pfx=0\n#END\n").getBytes("UTF-8"))

    val got = IndexStore.read(spark, path)
    assert(got.columns.toSeq == Seq("gh", "min_doc"))
    assert(rows(got) == rows(old1.union(old2)))
    assert(IndexStore.hasTag(spark, path, "7"))
    val st = IndexStore.stats(spark, path).get
    assert(st.nDataLeaves == 3 && st.maxLeavesPerPrefix == 2 && st.nDirtyPrefixes == 1)

    // a new-layout append lands next to the old leaves
    val s3 = Seq((1L, 50L), (9L, 400L)).toDF("gh", "min_doc")
    assert(IndexStore.append(s3, path, Some("8")))
    assert(rows(IndexStore.read(spark, path)) == rows(old1.union(old2).union(s3)))

    IndexStore.compact(spark, path,
      _.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc")))
    val after = IndexStore.liveEntries(spark, path)
    assert(after.size == 1 && after.head.startsWith("data-") && !after.head.contains("/"))
    val want = old1.union(old2).union(s3)
      .groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc"))
    assert(rows(IndexStore.read(spark, path)) == rows(want))
    assert(IndexStore.hasTag(spark, path, "7") && IndexStore.hasTag(spark, path, "8"))

    // vacuum reclaims both earlier-layout directories, never the live one
    IndexStore.vacuum(spark, path)
    assert(!new java.io.File(s"$path/data-old1").exists() &&
      !new java.io.File(s"$path/data-old2").exists())
    assert(rows(IndexStore.read(spark, path)) == rows(want))
  }

  test("a read takes its schema from one footer: no job, Spark's inferred schema") {
    def inferred(path: String) =
      spark.read.parquet(IndexStore.liveEntries(spark, path).map(e => s"$path/$e"): _*).schema
    val anchored = tmp()
    IndexStore.init(spark, anchored, Seq((1L, "a")).toDF("gh", "tag").schema)
    assert(IndexStore.read(spark, anchored).schema == inferred(anchored))

    val path = tmp()
    IndexStore.append(Seq((0L, 10L, "x")).toDF("gh", "min_doc", "src"), path)
    IndexStore.append(Seq((1L, 11L, null)).toDF("gh", "min_doc", "src"), path)
    var got: org.apache.spark.sql.DataFrame = null
    assert(graft.Jobs.during(spark) { got = IndexStore.read(spark, path) } == 0)
    assert(got.schema == inferred(path))
    assert(got.count() == 2)

    // the earlier layout: the manifest lists prefix leaves
    val old = tmp()
    Seq((0L, 10L), (1L, 11L)).toDF("gh", "min_doc")
      .withColumn("_pfx", pmod(col("gh"), lit(2)).cast("string"))
      .write.partitionBy("_pfx").parquet(s"$old/data-old1")
    new java.io.File(s"$old/manifest").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$old/manifest/v00000001"),
      "#graft-index-manifest 1\ne data-old1/_pfx=0\ne data-old1/_pfx=1\n#END\n".getBytes("UTF-8"))
    assert(IndexStore.read(spark, old).schema == inferred(old))
  }

  test("a read of differently-typed commits takes the schema Spark's inference picks, whatever the directory order") {
    val base = tmp()
    Seq((0L, "x")).toDF("gh", "src").write.parquet(s"$base/data-b")
    Seq((1L, null)).toDF("gh", "src").write.parquet(s"$base/data-a")
    for (dirs <- Seq(Seq("data-b", "data-a"), Seq("data-a", "data-b")).map(_.map(d => s"$base/$d")))
      assert(graft.ingest.FileIndex.readDirs(spark, dirs).schema ==
        spark.read.parquet(dirs: _*).schema, s"order $dirs")
  }

  test("an append landing MID-compaction is carried forward, not lost") {
    val path = tmp()
    val s1 = (0L until 8L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
    val s2 = (0L until 8L).map(g => (g, 200L + g)).toDF("gh", "min_doc")
    val late = Seq((0L, 50L), (99L, 51L)).toDF("gh", "min_doc")
    IndexStore.append(s1, path)
    IndexStore.append(s2, path)
    // the transform hook runs after compaction snapshots its victims
    // and before its manifest commit — exactly the window the old
    // rename-swap maintenance lost appends in
    IndexStore.compact(spark, path, { df =>
      IndexStore.append(late, path, Some("late"))
      df.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc"))
    })
    val got = IndexStore.read(spark, path)
    // the late append survives un-compacted; the victims folded
    val want = s1.union(s2).groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc"))
      .union(late)
    assert(rows(got) == rows(want))
    assert(IndexStore.hasTag(spark, path, "late"))
  }

  test("a crashed compaction (or append) leaves the manifest pointing at the old files") {
    val path = tmp()
    val s1 = (0L until 8L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
    IndexStore.append(s1, path)
    val before = rows(IndexStore.read(spark, path))
    val entriesBefore = IndexStore.liveEntries(spark, path)

    // a compaction that died after its data rewrite but before its
    // manifest commit = an orphan data directory
    Seq((0L, 1L)).toDF("gh", "min_doc").write.parquet(s"$path/data-orphancrash")
    assert(rows(IndexStore.read(spark, path)) == before)
    assert(IndexStore.liveEntries(spark, path) == entriesBefore)

    // a committer that died mid-manifest-write = a version file with
    // no terminator: readers skip it, the next commit claims a
    // strictly higher version
    val burned = new java.io.FileOutputStream(s"$path/manifest/v00009999")
    burned.write("#graft-index-manifest 1\ne data-orphancrash\n".getBytes("UTF-8"))
    burned.close()
    assert(rows(IndexStore.read(spark, path)) == before)
    val s2 = Seq((1L, 7L)).toDF("gh", "min_doc")
    IndexStore.append(s2, path)
    assert(rows(IndexStore.read(spark, path)) == before ++ rows(s2))
    assert(new java.io.File(s"$path/manifest").list()
      .exists(_ > "v00009999"), "the next commit claims a version above the burned one")

    // vacuum reclaims the orphan, never the live leaves
    IndexStore.vacuum(spark, path)
    assert(!new java.io.File(s"$path/data-orphancrash").exists())
    assert(rows(IndexStore.read(spark, path)) == before ++ rows(s2))
  }

  test("vacuum deletes the superseded manifest versions, keeps the current one") {
    val path = tmp()
    val s1 = (0L until 8L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
    val s2 = Seq((0L, 90L), (9L, 300L)).toDF("gh", "min_doc")
    IndexStore.append(s1, path, Some("1"))
    IndexStore.append(s2, path, Some("2"))
    IndexStore.compact(spark, path,
      _.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc")))
    val before = rows(IndexStore.read(spark, path))
    val version = IndexStore.stats(spark, path).get.version
    val current = f"v$version%08d"
    def manifestFiles = new java.io.File(s"$path/manifest").list().toSeq
    assert(manifestFiles.count(_.startsWith("v")) > 1)

    IndexStore.vacuum(spark, path)
    // one version left (a local filesystem deletes a version's `.crc`
    // sibling with it, so only the current one's may remain)
    assert(manifestFiles.contains(current) && manifestFiles.forall(_.contains(current)),
      s"manifest files after vacuum: $manifestFiles")
    assert(rows(IndexStore.read(spark, path)) == before)
    assert(IndexStore.hasTag(spark, path, "1") && IndexStore.hasTag(spark, path, "2"))

    val s3 = Seq((20L, 400L)).toDF("gh", "min_doc")
    assert(IndexStore.append(s3, path, Some("3")))
    assert(IndexStore.stats(spark, path).get.version > version)
    assert(rows(IndexStore.read(spark, path)) == before ++ rows(s3))
  }

  test("concurrent tagged appenders racing a compactor: no lost rows, no lost tags, reads stay serveable") {
    val path = tmp()
    IndexStore.init(spark, path,
      Seq((0L, 0L)).toDF("gh", "min_doc").schema)
    val nWriters = 4
    val shardsPer = 3
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          (0 until shardsPer).foreach { s =>
            val shard = (0L until 8L)
              .map(g => (g, (w * 100 + s * 10) + g)).toDF("gh", "min_doc")
            // replay every append once — exactly-once must hold under
            // interleaving with OTHER writers' commits in between
            assert(IndexStore.append(shard, path, Some(s"w$w-s$s")))
            assert(!IndexStore.append(shard, path, Some(s"w$w-s$s")))
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val compactor = new Thread(() => {
      try {
        (0 until 3).foreach { _ =>
          IndexStore.compact(spark, path,
            _.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc")))
          // the index must be READABLE at every instant of maintenance
          IndexStore.read(spark, path).count()
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ compactor).foreach(_.start())
    (writers :+ compactor).foreach(_.join(120000))
    // a hung thread must fail HERE with a timeout diagnosis, not as a
    // confusing downstream tag/content assertion
    (writers :+ compactor).foreach(t =>
      assert(!t.isAlive, s"thread ${t.getName} timed out after 120s"))
    assert(errors.isEmpty, s"concurrent writer/compactor failed: ${errors.peek()}")
    // every tag recorded exactly once; content = the global fold of
    // every shard ever appended (fold at read time absorbs whatever
    // compaction state the race ended in)
    for (w <- 0 until nWriters; s <- 0 until shardsPer)
      assert(IndexStore.hasTag(spark, path, s"w$w-s$s"))
    val got = IndexStore.read(spark, path)
      .groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc"))
    val want = (0L until 8L).map(g => (g, g)).toDF("gh", "min_doc") // w=0,s=0 minima
    assert(rows(got) == rows(want))
  }

  test("stats track fragmentation across appends and reset after compaction") {
    val path = tmp()
    assert(IndexStore.stats(spark, path).isEmpty, "fresh path has no stats")
    val s1 = (0L until 16L).map(g => (g, 100L + g)).toDF("gh", "min_doc")
    val s2 = Seq((0L, 90L), (1L, 91L)).toDF("gh", "min_doc")
    // the index is one group: nPrefixes is 1 once it holds data, and
    // maxLeavesPerPrefix counts its data directories
    IndexStore.append(s1, path, Some("t1"))
    val one = IndexStore.stats(spark, path).get
    assert(one.nPrefixes == 1 && one.nDirtyPrefixes == 0 &&
      one.maxLeavesPerPrefix == 1 && one.nTags == 1 && one.dirtyFraction == 0.0)
    IndexStore.append(s2, path, Some("t2"))
    val two = IndexStore.stats(spark, path).get
    assert(two.nDataLeaves == 2 && two.nDirtyPrefixes == 1 &&
      two.maxLeavesPerPrefix == 2 && two.dirtyFraction == 1.0 && two.nTags == 2)
    IndexStore.compact(spark, path,
      _.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc")))
    val post = IndexStore.stats(spark, path).get
    assert(post.nDirtyPrefixes == 0 && post.maxLeavesPerPrefix == 1 &&
      post.nTags == 2, "compaction defragments but keeps the tag history")
  }

  test("tag retirement: the manifest stays bounded, replays still skip at every window position") {
    val path = tmp()
    val keep = 4
    // 20 micro-batches at streaming cadence, two sink suffixes per
    // batch (the AnnIndex shape) — without retirement that is 40 tag
    // lines and counting
    (0 until 20).foreach { b =>
      val shard = Seq((b.toLong, 100L + b)).toDF("gh", "min_doc")
      assert(IndexStore.append(shard, path, Some(s"$b:codes")))
      assert(IndexStore.append(shard, path, Some(s"$b:buckets")))
    }
    IndexStore.retireTags(spark, path, keepLast = keep)
    val st = IndexStore.stats(spark, path).get
    // per suffix: heads ≤ 19-4=15 retired → verbatim tags 16..19 only
    assert(st.nTags == 2 * keep, s"expected ${2 * keep} verbatim tags, got ${st.nTags}")
    assert(st.nTagMarks == 2)
    // the manifest FILE is bounded: entries + retained tags + 2 marks
    val manifest = new java.io.File(s"$path/manifest").listFiles().map(_.getName).max
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$path/manifest/$manifest")).size()
    assert(lines <= st.nDataLeaves + st.nAnchors + st.nTags + st.nTagMarks + 2,
      s"manifest has $lines lines")

    // an IN-window replay skips via its verbatim tag
    val before = rows(IndexStore.read(spark, path))
    assert(!IndexStore.append(Seq((99L, 1L)).toDF("gh", "min_doc"), path, Some("18:codes")))
    // an OUT-of-window replay of a retired batchId skips via the watermark
    assert(!IndexStore.append(Seq((99L, 1L)).toDF("gh", "min_doc"), path, Some("3:buckets")))
    assert(IndexStore.hasTag(spark, path, "3:buckets") && IndexStore.hasTag(spark, path, "18:codes"))
    assert(rows(IndexStore.read(spark, path)) == before, "replays must mutate nothing")
    // a genuinely NEW batch above the window still commits
    assert(IndexStore.append(Seq((77L, 7L)).toDF("gh", "min_doc"), path, Some("20:codes")))

    // non-numeric tags never retire
    assert(IndexStore.append(Seq((78L, 8L)).toDF("gh", "min_doc"), path, Some("manual-backfill")))
    IndexStore.retireTags(spark, path, keepLast = 0)
    assert(IndexStore.hasTag(spark, path, "manual-backfill"))
    // keepLast=0 retires everything numeric; watermark still covers them
    assert(!IndexStore.append(Seq((99L, 1L)).toDF("gh", "min_doc"), path, Some("20:codes")))
    assert(IndexStore.stats(spark, path).get.nTags == 1)

    // compaction runs the checkpoint as part of maintenance
    val path2 = tmp()
    (0 until 10).foreach { b =>
      IndexStore.append(Seq((b.toLong % 4, b.toLong)).toDF("gh", "min_doc"),
        path2, Some(b.toString))
    }
    IndexStore.compact(spark, path2,
      _.groupBy(col("gh")).agg(min(col("min_doc")).as("min_doc")),
      tagRetention = 2)
    val st2 = IndexStore.stats(spark, path2).get
    assert(st2.nTags == 2 && st2.nTagMarks == 1)
    assert(IndexStore.hasTag(spark, path2, "0") && IndexStore.hasTag(spark, path2, "9"))
  }

  test("NULL keys survive append and compaction round trips") {
    val path = tmp()
    val s = Seq((Some("ab12"), 1L), (None, 2L), (None, 3L))
      .toDF("digest", "min_doc")
    IndexStore.append(s, path)
    assert(rows(IndexStore.read(spark, path)) == rows(s))
    IndexStore.append(s.withColumn("min_doc", col("min_doc") + 10), path)
    IndexStore.compact(spark, path,
      _.groupBy(col("digest")).agg(min(col("min_doc")).as("min_doc")))
    val want = s.union(s.withColumn("min_doc", col("min_doc") + 10))
      .groupBy(col("digest")).agg(min(col("min_doc")).as("min_doc"))
    assert(rows(IndexStore.read(spark, path)) == rows(want))
  }

  test("a barrier-deferred append never changes an already-pinned read " +
      "(the ingest pipeline's manifest-snapshot contract)") {
    // the AppendBarrier safety argument, pinned as a spec instead of a
    // comment: IndexStore.read resolves the manifest snapshot AT CALL
    // TIME, so an append that lands afterwards — even before the read's
    // plan ever executes — cannot leak into it; a FRESH read sees it.
    // Per-path awaits (awaitFor) join only that path's appends.
    val path = tmp()
    val other = tmp()
    IndexStore.append(Seq((1L, 10L)).toDF("gh", "min_doc"), path)
    IndexStore.init(spark, other,
      Seq((0L, 0L)).toDF("gh", "min_doc").schema)
    val pinned = IndexStore.read(spark, path) // snapshot taken HERE
    val barrier = new AppendBarrier
    val started = new java.util.concurrent.CountDownLatch(1)
    barrier.submitFor(path) {
      started.await()
      IndexStore.append(Seq((2L, 20L)).toDF("gh", "min_doc"), path)
    }
    barrier.submitFor(other) {
      IndexStore.append(Seq((3L, 30L)).toDF("gh", "min_doc"), other)
    }
    // awaitFor joins ONLY the named path's appends: `other` completes
    // here while `path`'s append is still gated on the latch
    barrier.awaitFor(other)
    assert(rows(IndexStore.read(spark, other)).contains(Seq(3L, 30L)))
    started.countDown()
    barrier.await()
    // the pinned read still serves the pre-append snapshot — executed
    // only now, AFTER the append committed
    assert(rows(pinned) == Set(Seq(1L, 10L)))
    // a fresh read (the next shard's stage) sees the appended state
    assert(rows(IndexStore.read(spark, path)) == Set(Seq(1L, 10L), Seq(2L, 20L)))
  }
}
