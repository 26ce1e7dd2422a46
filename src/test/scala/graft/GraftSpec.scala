package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.PipelineCompiler.PipelineNode
import graft.ingest.{Ingest, OvertureFixtures}

/** End-to-end facade exercise: the reference user's whole workflow —
  * load an area, run pipelines, search, drop — through the public API,
  * plus the training-data operators called through `graft.ops`.
  */
class GraftSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val (dataDir, g) = {
    val dd = java.nio.file.Files.createTempDirectory("graft_area").toString
    OvertureFixtures.write(spark, dd, n = 150, files = 3)
    val sd = java.nio.file.Files.createTempDirectory("graft_state").toString
    (dd, new Graft(spark, sd))
  }

  test("loadArea materializes themes, builds FTS, logs history") {
    val res = g.loadArea(dataDir, Seq("places/place", "buildings/building"),
      bbox = Some(Ingest.BBox(-2.0, -1.0, 2.0, 1.0)))
    assert(res("places/place").rowCount > 0)
    assert(res("buildings/building").rowCount > 0)
    assert(spark.catalog.tableExists("places_place"))
    assert(spark.catalog.tableExists("fts_main_places_place")) // searchable theme
    assert(g.loadHistory.count() == 2)
  }

  test("pipeline + search + sql + typed features over the loaded area") {
    g.loadArea(dataDir, Seq("places/place", "buildings/building"))

    // compiled pipeline
    val df = g.runPipeline(Seq(
      PipelineNode("p1", "source", "", "places_place", "places/place"),
      PipelineNode("p2", "combine", "union", "buildings_building", "buildings/building")))
    assert(df.count() > 0 && df.columns.contains("geojson"))

    // ranked search fans out over user tables with isolation
    val hits = g.search("cafe")
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[String]("source_table") == "places_place"))

    // raw SQL surface
    assert(g.sql("SELECT COUNT(*) AS n FROM places_place").head().getLong(0) > 0)

    // typed boundary
    val feats = g.features("places/place").collect()
    assert(feats.forall(f => f.geom_type == "POINT" && f.id.nonEmpty))

    // session KV
    g.sessionState.set("pipelineSearch", "cafe")
    assert(g.sessionState.get("pipelineSearch").contains("cafe"))
  }

  test("training-pipeline extensions are reachable through graft.ops") {
    import spark.implicits._
    import graft.ops.{Dedup, Similarity, TextAnalysis}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different text about spark engines")).toDF("doc_id", "text")
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() == 3) // doc 2 dropped
    val near = g.dedupNear(docs, "doc_id", "text", threshold = 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(near.contains(1L) && !near.contains(2L) && !near.contains(3L) && near.contains(4L))
    val ann = TextAnalysis.annotate(docs)
    assert(ann.columns.contains("lang_pred") && ann.columns.contains("q_tokens"))
    val vecs = (0L until 30L).map { i =>
      val arr = Array.fill(8)(0.01f); arr((i % 3).toInt) = 1.0f; (i, arr)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 3)
      .select($"cent_id".as("vec_id"), $"centroid".as("embedding"))
    val nn = Similarity.ivfTopK(vecs, vecs.limit(2), cents, "vec_id", "embedding",
      k = 3, nprobe = 1)
    assert(nn.count() > 0)
    assert(TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text").columns.toSeq ==
      Seq("doc_id", "term", "score", "rank"))
    assert(TextAnalysis.lmPerplexity(docs, "doc_id", "text").columns.contains("ppl"))
    val tgt = docs.where($"doc_id" === 4L)
    assert(TextAnalysis.dsirLogWeights(docs, tgt, "doc_id", "text").count() == 4)
    assert(TextAnalysis.dsirResample(docs, tgt, "doc_id", "text", k = 2).count() == 2)
  }

  test("persisted-index workflows are reachable through graft.ops") {
    import spark.implicits._
    import graft.ops.{AnnIndex, Dedup, Similarity}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "a"),
      (2L, "the quick brown fox jumps over the lazy dog", "a"),
      (3L, "completely different text about spark engines", "a"),
      (4L, "the quick brown fox jumps over the lazy dog", "b"), // dups 1 across shards
      (5L, "a genuinely novel document with fresh words", "b")).toDF("doc_id", "text", "source")
    val idx = java.nio.file.Files.createTempDirectory("graft_facade_idx").toString
    Dedup.writeMinhashIndex(docs.where($"doc_id" <= 3), "doc_id", "text", idx)
    val kept = Dedup.dedupIncrement(docs.where($"doc_id" > 3), "doc_id", "text", idx,
        threshold = 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L)) // 4 duplicates the indexed corpus

    val vecs = (0L until 24L).map { i =>
      val arr = Array.fill(64)(0.01f); arr((i % 4).toInt * 16) = 1.0f; (i, arr)
    }.toDF("vec_id", "embedding")
    val annDir = java.nio.file.Files.createTempDirectory("graft_facade_ann").toString
    AnnIndex.build(vecs, "vec_id", "embedding", annDir, dims = 64, ivfK = 4, pqM = 4, pqK = 4)
    val q = vecs.limit(2)
    val pq = Similarity.pqTopKEncoded(
      AnnIndex.readPqCodes(spark, annDir), q, "vec_id", "embedding",
      AnnIndex.readPqCodebooks(spark, annDir), k = 3)
    assert(pq.count() > 0)
    val lsh = Similarity.lshTopKFromBuckets(vecs,
      AnnIndex.readLshBuckets(spark, annDir), q, "vec_id", "embedding", k = 3, hamming = 1)
    assert(lsh.count() > 0)
  }

  test("writeShards: one parquet directory per shard, rows partition-complete") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val docs = (1 to 40).map(i => (i.toLong, "x" * (i % 7 + 1))).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    g.writeShards(docs, out, "n_chars", nShards = 4)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    val back = spark.read.parquet(out)
    assert(back.count() == 40)
    assert(back.select("doc_id").distinct().count() == 40)
    // shard sizes within one (the snake deal property survives the write)
    val sizes = back.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
  }

  test("dropArea removes views and indexes") {
    g.loadArea(dataDir, Seq("places/place"))
    g.dropArea(Seq("places/place"))
    assert(!spark.catalog.tableExists("places_place"))
    assert(!spark.catalog.tableExists("fts_main_places_place"))
  }
}
