package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** The streaming-equals-batch gate for the composed ingest at a
  * non-toy scale (round-13 task #8): split a scale factor's
  * `documents` table into N contiguous-id file-batches, run them
  * through [[graft.ops.IngestPipeline.ingestShard]] as one continuous
  * query ([[graft.streaming.Streams.exactlyOnce]]), run the SAME slices
  * through the batch form shard by shard against a second set of
  * indexes, and require the two curated corpora to be
  * row-for-row identical (count + order-insensitive content hash of
  * every column). Emits one JSON line for the checked-in artifact.
  *
  * Usage: runMain graft.tools.StreamGate <sfDir> <outJson> [nBatches]
  */
object StreamGate {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Engine.session()
    // the progress ring must hold EVERY micro-batch's update or the
    // durationMs split below silently undercounts machinery time
    // (default ring = 100 updates; nBatches is a CLI arg)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", nBatches + 16)
    graft.core.Tables.registerAll(spark, sfDir)
    val docs = spark.table("documents")
      .select(col("doc_id"), col("text"), col("source"))
    val bench = docs.where(col("source") === "src0")
      .limit(200) // an eval suite is benchmark-sized, not corpus-sized

    // round-15: the gate covers the FULL composed pipeline — the web
    // front door (HTML extraction + markup screen, URL normalize +
    // URL-level dedup) and the line stage run in BOTH forms, so the
    // stream-equals-batch hash now proves the r15 composition too.
    // HTML/URL synthesized per doc exactly like pipeline_curate_web:
    // a shared nav line + the doc text as content (1-in-17 docs are
    // script shells the screen must kill), 1-in-3 docs share a
    // canonical URL group modulo tracking params.
    val idStr = col("doc_id").cast("string")
    val htmlCol = when(pmod(col("doc_id"), lit(17)) === 3, concat(
        lit("<html><body><script>var n = 0; // " + ("pad " * 50)),
        lit("</script><p>tiny</p></body></html>")))
      .otherwise(concat(
        lit("<html><body><p>SHARED NAV BAR</p><p>"), col("text"),
        lit(" more info</p></body></html>")))
    val urlCol = when(pmod(col("doc_id"), lit(3)) === 0, concat(
        lit("http://dup"), pmod(col("doc_id"), lit(11)).cast("string"),
        lit(".com/x?gclid="), idStr))
      .otherwise(concat(
        lit("http://u"), idStr, lit(".site.com/p/"),
        pmod(col("doc_id"), lit(5)).cast("string"), lit("?utm_source=z")))
    val docsWeb = docs.select(col("doc_id"), htmlCol.as("html"),
      urlCol.as("url"), col("source"))

    // contiguous id ranges → ids nondecreasing ACROSS batches (the
    // increments' decomposition contract)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    require(ids.nonEmpty, s"no documents under $sfDir")
    val bounds = (1 until nBatches).map(i => ids(i * ids.length / nBatches))
    def sliceOf(i: Int): DataFrame = {
      val lo = if (i == 0) Long.MinValue else bounds(i - 1)
      val hi = if (i == nBatches - 1) Long.MaxValue else bounds(i)
      docsWeb.where(col("doc_id") >= lo && col("doc_id") < hi)
    }

    val base = graft.ops.TableWrite.scratchDir("graft_streamgate")
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    (0 until nBatches).foreach { i =>
      val stage = s"$base/_stage_$i"
      sliceOf(i).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(f"$srcDir/b$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    // maintenance fires mid-stream (after every 4th micro-batch's
    // ingest) with zero tag retention, so the gate ALSO proves the
    // watermark machinery under the composed stages; reports feed the
    // artifact
    val maintained = Seq(s"$base/s_digest" -> "digest",
      s"$base/s_minhash" -> "minhash", s"$base/s_span" -> "span",
      s"$base/s_url" -> "digest", s"$base/s_line" -> "line")
    val maintReports =
      scala.collection.mutable.ArrayBuffer[Seq[graft.ops.IngestPipeline.MaintenanceReport]]()
    val t0 = System.nanoTime()
    val q = Streams.exactlyOnce(
        Streams.files(spark, srcDir, sliceOf(0).schema, maxFilesPerTrigger = Some(1)),
        s"$base/s_out", s"$base/cp") { (batch, id) =>
      val out = graft.ops.IngestPipeline.ingestShard(batch, bench,
        s"$base/s_digest", s"$base/s_minhash", s"$base/s_span",
        commitTag = Some(s"$id"),
        htmlCol = Some("html"), urlCol = Some("url"),
        urlIndexPath = Some(s"$base/s_url"),
        lineIndexPath = Some(s"$base/s_line"))
      if ((id + 1) % 4 == 0)
        maintReports += graft.ops.IngestPipeline.maintainIndexes(spark, maintained, 0)
      out
    }
    q.awaitTermination(3600000L)
    val streamSec = (System.nanoTime() - t0) / 1e9
    // per-micro-batch duration breakdown (StreamingQueryProgress
    // durationMs): addBatch = the foreachBatch pipeline work itself;
    // everything else (offset/WAL commits, source listing, trigger
    // setup) is micro-batch machinery — the split that adjudicates
    // the stream-vs-batch premium in BASELINE.md. Read from the
    // query's own recentProgress AFTER termination (a synchronous,
    // complete snapshot — the ring is sized to nBatches + slack right
    // after the session is built) instead of a StreamingQueryListener:
    // listener callbacks arrive on the async bus thread, and a
    // snapshot taken right after awaitTermination can miss the final
    // batch's event.
    val progress = q.recentProgress
    val nProgress = progress.length
    require(nProgress >= nBatches,
      s"progress ring truncated: $nProgress updates < $nBatches batches — " +
        "the duration split would undercount stream machinery time")
    val durAcc = new java.util.HashMap[String, Long]()
    progress.foreach(_.durationMs.forEach((k, v) =>
      durAcc.merge(k, v.longValue(), (a, b) => a + b)))
    import scala.jdk.CollectionConverters._
    val durs = durAcc.asScala.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${v / 1000.0}""" }.mkString(",")

    val t1 = System.nanoTime()
    (0 until nBatches).foreach { i =>
      graft.ops.TableWrite.withSchemaAnchor(
        graft.ops.IngestPipeline.ingestShard(sliceOf(i), bench,
          s"$base/b_digest", s"$base/b_minhash", s"$base/b_span",
          htmlCol = Some("html"), urlCol = Some("url"),
          urlIndexPath = Some(s"$base/b_url"),
          lineIndexPath = Some(s"$base/b_line")),
        s"$base/b_out", "append")
    }
    val batchSec = (System.nanoTime() - t1) / 1e9

    def summarize(path: String): (Long, String) = {
      val df = spark.read.parquet(path)
        .select(col("doc_id"), col("source"), col("clean_text"), col("n_tokens"))
      val hashes = df.select(md5(concat_ws("",
          col("doc_id"), col("source"), col("clean_text"), col("n_tokens"))).as("h"))
        .collect().map(_.getString(0)).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      hashes.foreach(h => md.update(h.getBytes("UTF-8")))
      (hashes.length.toLong, md.digest().map("%02x".format(_)).mkString)
    }
    val (sRows, sHash) = summarize(s"$base/s_out")
    val (bRows, bHash) = summarize(s"$base/b_out")
    val equal = sRows == bRows && sHash == bHash
    // manifest-growth accounting: per maintenance pass, the summed
    // manifest line count (entries + tags + watermark lines) across
    // the five stream-side indexes before and after — the number the
    // maintenance scheduler exists to bound
    val maint = maintReports.toSeq.map { rs =>
      val before = rs.map(r => r.manifestLines(r.before)).sum
      val after = rs.map(r => r.manifestLines(r.after)).sum
      val compacted = rs.count(_.compacted)
      s"""{"lines_before":$before,"lines_after":$after,"n_compacted":$compacted}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"gate":"stream_vs_batch_composed_ingest","sf_dir":"$sfDir",""" +
      s""""n_batches":$nBatches,"stream_rows":$sRows,"batch_rows":$bRows,""" +
      s""""stream_hash":"$sHash","batch_hash":"$bHash","equal":$equal,""" +
      s""""stream_sec":${math.round(streamSec * 10) / 10.0},""" +
      s""""batch_sec":${math.round(batchSec * 10) / 10.0},""" +
      s""""stages":"html,url,quality,digest,decontam,minhash,line,span",""" +
      s""""n_maintenance_passes":${maintReports.size},"maintenance":$maint,""" +
      s""""n_progress_events":$nProgress,"stream_duration_split_sec":{$durs}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    println(json)
    if (!equal) sys.exit(1)
    spark.stop()
  }
}
