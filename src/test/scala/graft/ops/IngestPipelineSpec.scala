package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** The composed incremental ingest step, exercised with one planted
  * leak of EVERY kind across two shards — each must be caught by its
  * own stage through its own persisted index — plus the exact-digest
  * incremental family's own contracts (batch decomposition, retry
  * identity, compaction).
  */
class IngestPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def uniq(d: Int, k: Int, p: String = "w") =
    (0 until k).map(j => s"$p${d}x$j").mkString(" ")

  test("ingestShard: every planted leak is caught by its own stage across shards") {
    val phrase8 = "pine oak elm birch maple cedar aspen willow"
    val donor8 = "ruby topaz opal beryl garnet zircon jasper amber"
    val benchGram = "eval leak gram"
    val textA = uniq(1, 20)
    val shard1 = Seq(
      (1L, textA, "s"),                                   // canonical
      (2L, s"${uniq(2, 12)} $phrase8", "s"),              // carries the phrase
      (3L, uniq(3, 5), "s"),                              // below minTokens
      // contaminated donor: rejected at decontamination, so its
      // donor8 passage must NEVER register span grams — the clean
      // shard-2 doc that reuses it keeps it intact
      (4L, s"${uniq(4, 6)} $benchGram ${uniq(40, 4)} $donor8", "s"),
      // contaminated NEAR-DUP donor: rejected at decontamination, so
      // it must never register MinHash signatures — the clean shard-2
      // near-variant (same article minus the leak) must be RETAINED,
      // not dropped against a doc the corpus never admitted
      (5L, s"${uniq(5, 18)} $benchGram", "s")
    ).toDF("doc_id", "text", "source")
    val shard2 = Seq(
      (11L, textA.replaceFirst(" ", "  "), "s"),          // byte-different exact?
      (12L, textA, "s"),                                  // exact dup of doc 1
      (13L, s"${uniq(13, 12)} $phrase8", "s"),            // shares ONLY the phrase
      (14L, s"${uniq(14, 10)} $benchGram ${uniq(140, 7)}", "s"), // contaminated
      (15L, uniq(15, 20), "s"),                           // clean
      (16L, s"${uniq(16, 12)} $donor8", "s"),             // reuses the REJECTED donor's passage
      (17L, uniq(5, 18), "s")                             // clean near-variant of REJECTED doc 5
    ).toDF("doc_id", "text", "source")
    val bench = Seq((100L, s"$benchGram ${uniq(100, 10)}", "b"))
      .toDF("doc_id", "text", "source")

    val base = graft.TempDir("graft_ingest").toString
    def run(shard: org.apache.spark.sql.DataFrame) =
      IngestPipeline.ingestShard(shard, bench,
        s"$base/digest", s"$base/minhash", s"$base/span",
        minTokens = 10, k = 16, bands = 4, shingleN = 3, threshold = 0.25,
        spanN = 8, decontamN = 3, decontamMinHits = 1)

    val out1 = run(shard1).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // doc 3 fails quality, 4 and 5 fail decontamination; 1 and 2 land
    // intact (nothing indexed yet)
    assert(out1.keySet == Set(1L, 2L))
    assert(out1(2L)._2 == 20 && out1(2L)._1.endsWith(phrase8))

    val out2 = run(shard2).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // 12 = exact dup (digest index); 11 = byte-different but
    // token-identical → survives exact, killed by the MinHash index
    // (shingle Jaccard 1 vs doc 1); 13 survives both, loses ONLY the
    // phrase to the span index; 14 is dropped by bloom
    // decontamination; 15 is untouched; 16 keeps the donor passage
    // INTACT — its only prior occurrence was in shard-1's doc 4,
    // which decontamination rejected BEFORE the span stage could
    // register its grams; 17 is a near-dup ONLY of rejected doc 5,
    // whose signatures decontamination kept out of the MinHash index,
    // so the clean variant is retained intact
    assert(out2.keySet == Set(13L, 15L, 16L, 17L))
    assert(out2(13L)._1 == uniq(13, 12) && out2(13L)._2 == 12)
    assert(out2(15L)._2 == 20)
    assert(out2(16L)._2 == 20 && out2(16L)._1.endsWith(donor8))
    assert(out2(17L)._1 == uniq(5, 18) && out2(17L)._2 == 18)

    // retry: re-ingesting shard 2 against the already-appended
    // indexes reproduces the identical verdicts and texts
    val retry = run(shard2).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(retry == out2)

    // an EMPTY shard (a quiet ingest window) flows through every
    // stage and all three index appends without a crash, emitting
    // nothing and leaving the indexes serviceable
    assert(run(shard2.where(lit(false))).collect().isEmpty)
    val again = run(shard2).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(again == out2)
  }

  test("streaming composed ingest: two file-batches reproduce the two-shard batch fates") {
    val phrase8 = "pine oak elm birch maple cedar aspen willow"
    val benchGram = "eval leak gram"
    val textA = uniq(1, 20)
    val shard1 = Seq(
      (1L, textA, "s"), (2L, s"${uniq(2, 12)} $phrase8", "s"),
      (3L, uniq(3, 5), "s")).toDF("doc_id", "text", "source")
    val shard2 = Seq(
      (11L, textA.replaceFirst(" ", "  "), "s"), (12L, textA, "s"),
      (13L, s"${uniq(13, 12)} $phrase8", "s"),
      (14L, s"${uniq(14, 10)} $benchGram ${uniq(140, 7)}", "s"),
      (15L, uniq(15, 20), "s")).toDF("doc_id", "text", "source")
    val bench = Seq((100L, s"$benchGram ${uniq(100, 10)}", "b"))
      .toDF("doc_id", "text", "source")

    val srcDir = graft.TempDir("graft_ingstr").toString
    Seq(shard1 -> "b1", shard2 -> "b2").foreach { case (df, name) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$srcDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + (if (name == "b1") 0 else 60000L)))
    }
    val base = graft.TempDir("graft_ingstr_state").toString
    val q = Streams.exactlyOnce(Streams.files(spark, srcDir, shard1.schema, Some(1)),
        s"$base/out", s"$base/cp") { (batch, id) =>
      IngestPipeline.ingestShard(batch, bench,
        s"$base/digest", s"$base/minhash", s"$base/span",
        minTokens = 10, threshold = 0.25, spanN = 8, decontamMinHits = 1,
        commitTag = Some(s"$id"))
    }
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$base/out").collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // the planted fates, identical to the batch two-call composition:
    // 1, 2 admitted intact from batch 1; 13 admitted with the phrase
    // cut; 15 intact; 3 (quality), 12 (exact), 11 (near-dup via the
    // signature index), 14 (contamination) all rejected
    assert(streamed.keySet == Set(1L, 2L, 13L, 15L))
    assert(streamed(13L)._1 == uniq(13, 12) && streamed(13L)._2 == 12)
    assert(streamed(2L)._2 == 20)
  }

  test("web front door + line stage: HTML shell, URL dup, boilerplate line and span-order leaks each die at their own stage") {
    // no <title>: title is a block tag, and a shared title would BE a
    // cross-document duplicated line — this test plants its own
    def page(lines: Seq[String]): String =
      "<html><body>" + lines.map(l => s"<p>$l</p>").mkString + "</body></html>"
    val LB = "site navigation menu bar" // the planted boilerplate line
    val X = "quartz feldspar mica gneiss" // d12's line before LB
    val shard1 = Seq(
      // d1 owns LB (min doc); 3 lines, url canonicalizes with the
      // utm param stripped
      (1L, page(Seq(uniq(1, 8), LB, uniq(10, 8))),
        "http://a.com/1?utm_source=z", "s"),
      // d2 is a script shell: big markup, one visible character →
      // fails the text-share screen
      (2L, "<html><head><script>" + ("var x = 1; " * 40) +
        "</script></head><body>z</body></html>", "http://a.com/2", "s"),
      (3L, page(Seq(uniq(3, 12))), "http://a.com/3", "s")
    ).toDF("doc_id", "html", "url", "source")
    val t11 = uniq(21, 14)
    val shard2 = Seq(
      // same canonical URL as d1 (different tracking params, different
      // text) → dropped at the URL stage, BEFORE any text work
      (11L, page(Seq(t11)), "http://a.com/1?utm_campaign=q&fbclid=t", "s"),
      // carries LB as its middle line → the line index cuts it
      (12L, page(Seq(X, LB, uniq(12, 8))), "http://b.com/12", "s"),
      // the span-order proof: d13's own single line embeds the 8-token
      // run "X LB" — the gram that existed ONLY across d12's pre-cut
      // line boundary. Line-cut-before-span-registration means the
      // span index never learned it; d13 must survive INTACT.
      (13L, page(Seq(s"schist $X $LB basalt obsidian")), "http://b.com/13", "s"),
      // unparseable URL: the per-doc sentinel must NOT collide with
      // other unparseable rows or drop the doc
      (14L, page(Seq(uniq(14, 12))), "not a url", "s"),
      // byte-identical TEXT to the url-dropped d11 → must be ADMITTED:
      // a URL-rejected doc never registers its text digest
      (15L, page(Seq(t11)), "http://b.com/15", "s"),
      (16L, page(Seq(uniq(16, 12))), "also not a url", "s")
    ).toDF("doc_id", "html", "url", "source")
    val bench = Seq((100L, uniq(100, 10), "b")).toDF("doc_id", "text", "source")

    val base = graft.TempDir("graft_ingweb").toString
    def run(shard: org.apache.spark.sql.DataFrame) =
      IngestPipeline.ingestShard(shard, bench,
        s"$base/digest", s"$base/minhash", s"$base/span",
        minTokens = 8, k = 16, bands = 4, shingleN = 3, threshold = 0.25,
        spanN = 8, decontamN = 3, decontamMinHits = 1,
        htmlCol = Some("html"), urlCol = Some("url"),
        urlIndexPath = Some(s"$base/url"), lineIndexPath = Some(s"$base/line"))

    val out1 = run(shard1).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // d2 dies at the markup screen; d1 and d3 land with their
    // EXTRACTED text (the span stage's clean_text is the kept TOKEN
    // sequence space-joined, like every span-cut output)
    assert(out1.keySet == Set(1L, 3L))
    assert(out1(1L)._1 == s"${uniq(1, 8)} $LB ${uniq(10, 8)}")
    assert(out1(3L)._1 == uniq(3, 12) && out1(3L)._2 == 12)

    val out2 = run(shard2).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // 11 = URL dup of d1's canonical form; 12 loses ONLY the LB line;
    // 13 survives INTACT (span order proof); 14/16 flow past the URL
    // stage on sentinels; 15 is admitted despite sharing 11's text
    assert(out2.keySet == Set(12L, 13L, 14L, 15L, 16L))
    assert(out2(12L)._1 == s"$X ${uniq(12, 8)}" && out2(12L)._2 == 12)
    assert(out2(13L)._1 == s"schist $X $LB basalt obsidian" &&
      out2(13L)._2 == 11)
    assert(out2(15L)._1 == t11)
    // retry: identical verdicts against the already-appended indexes
    val retry = run(shard2).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(retry == out2)
  }

  test("streaming maintenance: boundary-crossing replay stays exactly-once through watermark AND verbatim tags") {
    val shards = Seq(
      Seq((1L, uniq(1, 20), "s"), (2L, uniq(2, 20), "s")),
      Seq((11L, uniq(1, 20), "s"), (12L, uniq(12, 20), "s")), // 11 = exact dup of 1
      Seq((21L, uniq(21, 20), "s"), (22L, uniq(12, 20), "s")) // 22 = exact dup of 12
    ).map(_.toDF("doc_id", "text", "source"))
    val bench = Seq((100L, "eval leak gram " + uniq(100, 10), "b"))
      .toDF("doc_id", "text", "source")
    val srcDir = graft.TempDir("graft_maint_src").toString
    shards.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$i")
      val part = new java.io.File(s"$srcDir/_stage_$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$srcDir/b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val base = graft.TempDir("graft_maint").toString
    val reports = scala.collection.mutable.ArrayBuffer[Seq[IngestPipeline.MaintenanceReport]]()
    val maintained = Seq(s"$base/digest" -> "digest", s"$base/minhash" -> "minhash",
      s"$base/span" -> "span", s"$base/line" -> "line")
    def start(cp: String, out: String) =
      Streams.exactlyOnce(Streams.files(spark, srcDir, shards.head.schema, Some(1)),
          out, cp) { (batch, id) =>
        val kept = IngestPipeline.ingestShard(batch, bench,
          s"$base/digest", s"$base/minhash", s"$base/span",
          minTokens = 10, threshold = 0.25, spanN = 8, decontamMinHits = 1,
          commitTag = Some(s"$id"), lineIndexPath = Some(s"$base/line"))
        // maintenance fires after batch 1 with zero retention: tags
        // for batches 0–1 compress into watermarks, batch 2's tag
        // stays verbatim — so the replay below exercises BOTH the
        // sub-watermark skip and the in-window tag skip
        if (id == 1) reports += IngestPipeline.maintainIndexes(spark, maintained, 0)
        kept
      }
    start(s"$base/cp1", s"$base/out1").awaitTermination(120000)
    val first = spark.read.parquet(s"$base/out1").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(first.keySet == Set(1L, 2L, 12L, 21L)) // 11, 22 exact-dup drops
    // one maintenance pass fired (after batch index 1), covering all
    // four indexes, and it checkpointed the tag lists
    assert(reports.nonEmpty)
    val r0 = reports.head
    assert(r0.map(_.family).sorted == Seq("digest", "line", "minhash", "span"))
    assert(r0.forall(r => r.after.nTags <= r.before.nTags))
    assert(r0.exists(r => r.after.nTagMarks > 0)) // watermarks exist
    // REPLAY across the maintenance boundary: fresh checkpoint and
    // output, SAME indexes — every batch re-derives, every index
    // append must skip (batches 0–1 via watermark, batch 2 via its
    // verbatim tag), and the re-derived verdicts must be identical
    reports.clear()
    start(s"$base/cp2", s"$base/out2").awaitTermination(120000)
    val second = spark.read.parquet(s"$base/out2").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(second == first)
    // the indexes were not double-mutated by the replay: one digest
    // row per distinct digest min-doc group, same as after run 1
    val digests = IncrementalIndex.Digest.read(spark, s"$base/digest")
      .groupBy("digest").agg(min("min_doc").as("m")).collect()
      .map(_.toSeq).toSet
    assert(digests.size == 4) // 4 distinct texts ever reached the stage
  }

  test("dedupExactIncrement equals the batch min-id rule restricted to the increment") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "alpha beta gamma"),                      // in-corpus dup of 1
      (4L, null),                                    // NULL-text past doc
      (11L, "alpha beta gamma"),                     // cross-shard dup of 1
      (12L, "eta theta iota"), (13L, "eta theta iota"), // within-increment pair
      (14L, "kappa lambda mu"),
      (15L, null), (16L, null)                       // NULL-text increment pair
    ).toDF("doc_id", "text")
    val old = docs.where($"doc_id" <= 10)
    val inc = docs.where($"doc_id" > 10)
    val path = graft.TempDir("graft_dgidx").toString
    Dedup.writeDigestIndex(old, "doc_id", "text", path)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.dedupExactIncrement(inc, "doc_id", "text", path)
    val batch = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .where($"doc_id" > 10)
    // NULL texts form one digest group like the batch rule: doc 4
    // (past) holds the group's min id, so 15 and 16 both drop — and
    // the non-null fates are untouched by the null rows
    assert(ids(got) == ids(batch) && ids(got) == Set(12L, 14L))
    // retry against the shard's own appended digests: identical
    val retry = Dedup.dedupExactIncrement(inc, "doc_id", "text", path,
      appendDigests = false)
    assert(ids(retry) == ids(got))
    // compaction: per-digest minima identical, one row per digest
    val minBefore = IncrementalIndex.Digest.read(spark, path)
      .groupBy("digest").agg(min("min_doc").as("m"))
      .collect().map(_.toSeq).toSet
    IncrementalIndex.Digest.compact(spark, path)
    val after = IncrementalIndex.Digest.read(spark, path)
    assert(after.groupBy("digest").agg(min("min_doc").as("m"))
      .collect().map(_.toSeq).toSet == minBefore)
    assert(after.count() == minBefore.size)
  }

  test("ingestShard rethrows the Bloom fork's own failure, not a self-suppression error") {
    // the bench has no text column: the forked Bloom build fails with
    // an AnalysisException, which stage 3 rethrows when it joins the
    // fork; the failure path joins that same fork again, and the
    // second join rethrows the SAME instance — it must not be
    // suppressed onto itself (IllegalArgumentException: Self-suppression
    // not permitted), which would hide the root cause
    val shard = Seq((1L, uniq(1, 30), "s"), (2L, uniq(2, 30), "s"))
      .toDF("doc_id", "text", "source")
    val bench = Seq((100L, "b")).toDF("doc_id", "source")
    val base = graft.TempDir("graft_bloom_fail").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      IngestPipeline.ingestShard(shard, bench,
        s"$base/digest", s"$base/minhash", s"$base/span").collect())
    assert(!e.getSuppressed.exists(_ eq e))
  }

  test("maintainIndexes rejects an unknown family before touching any manifest") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val base = graft.TempDir("graft_maint_bad").toString
    // tagged commits: with zero retention a maintenance pass would
    // retire the tags into a watermark, committing a new version
    Dedup.writeDigestIndex(docs, "doc_id", "text", s"$base/digest", commitTag = Some("7"))
    Dedup.writeSpanGramIndex(docs, "doc_id", "text", s"$base/span", n = 2,
      commitTag = Some("7"))
    def versions =
      Seq("digest", "span").map(p => IndexStore.stats(spark, s"$base/$p").get.version)
    val before = versions
    // both indexes are clean (one commit each), so nothing would be
    // compacted; the bad name must still fail, and the valid family
    // listed first must not be touched either
    val e = intercept[IllegalArgumentException](
      IngestPipeline.maintainIndexes(spark,
        Seq(s"$base/digest" -> "digest", s"$base/span" -> "spans"), tagRetention = 0))
    assert(e.getMessage.contains("spans"))
    assert(versions == before)
  }
}
