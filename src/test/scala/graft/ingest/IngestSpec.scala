package graft.ingest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val fixtureDir: String = {
    val dir = graft.TempDir("graft_overture").toString
    OvertureFixtures.write(spark, dir, n = 200, files = 4)
    dir
  }

  test("loadTheme materializes the canonical schema with nested access") {
    val res = Ingest.loadTheme(spark, fixtureDir, "places/place")
    assert(res.rowCount == 200)
    val df = spark.table("places_place")
    assert(graft.model.CanonicalSchema.conforms(df.schema))
    val r = df.where("id = 'pl00005'").head()
    assert(r.getAs[String]("display_name") == "Place 5")
    assert(r.getAs[String]("geom_type") == "POINT")
    // _f0=categories.primary, _f2=websites[1], _f4=brand.names.primary,
    // _f5=addresses[1].freeform
    assert(r.getAs[String]("_f0") == "shop")
    assert(r.getAs[String]("_f2") == "https://example.com/5")
    assert(r.getAs[String]("_f4") == "BrandX")
    assert(r.getAs[String]("_f5") == "5 Main St")
    // search_name includes name + category + brand, not website/phone
    val sn = r.getAs[String]("search_name")
    assert(sn.contains("Place 5") && sn.contains("shop") && sn.contains("BrandX"))
    assert(!sn.contains("example.com"))
    Ingest.dropTheme(spark, "places/place")
  }

  test("bbox load prunes files and rows") {
    val full = FileIndex.listParquet(s"$fixtureDir/places_place")
    assert(full.size == 4)
    // fixture lons span [-2, 1.9375]; this window hits only the lowest band
    val res = Ingest.loadTheme(spark, fixtureDir, "places/place",
      bbox = Some(Ingest.BBox(-2.0, -1.0, -1.5, 1.0)))
    assert(res.prunedFileCount < res.fileCount, s"expected pruning, got ${res.prunedFileCount}/${res.fileCount}")
    assert(res.rowCount > 0 && res.rowCount < 200)
    val lons = spark.table("places_place").select("centroid_lon")
      .collect().map(_.getDouble(0))
    assert(lons.forall(l => l >= -2.0 && l <= -1.5))
    Ingest.dropTheme(spark, "places/place")
  }

  test("limit bounds materialization") {
    val res = Ingest.loadTheme(spark, fixtureDir, "buildings/building", limit = Some(50))
    assert(res.rowCount == 50)
    Ingest.dropTheme(spark, "buildings/building")
  }

  test("a load capped at the area limit is driver-held; a larger or uncapped one is persisted") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def optimized(t: String) = spark.table(t).queryExecution.optimizedPlan
    val capped = Ingest.loadTheme(spark, fixtureDir, "places/place", limit = Some(Ingest.AreaLimit))
    assert(optimized("places_place").isInstanceOf[LocalRelation], optimized("places_place"))
    assert(capped.rowCount == 200)
    val cappedIds = spark.table("places_place").select("id").collect().map(_.getString(0)).sorted
    Ingest.loadTheme(spark, fixtureDir, "places/place")
    assert(optimized("places_place").isInstanceOf[InMemoryRelation], optimized("places_place"))
    assert(spark.table("places_place").select("id").collect().map(_.getString(0)).sorted
      .sameElements(cappedIds))
    Ingest.loadTheme(spark, fixtureDir, "places/place", limit = Some(Ingest.AreaLimit + 1))
    assert(optimized("places_place").isInstanceOf[InMemoryRelation], optimized("places_place"))
    Ingest.dropTheme(spark, "places/place")
  }

  test("the load schema is read from one footer, as Spark's inference reads it") {
    def sameAsInferred(paths: Seq[String]): Unit = {
      // the footer keeps the file's non-null fields; a file relation
      // reads every field as nullable, given or inferred
      val footer = FileIndex.sparkSchema(spark, paths.head)
      assert(spark.read.schema(footer).parquet(paths: _*).schema ==
        spark.read.parquet(paths: _*).schema)
    }
    // files Spark wrote: the schema comes from the footer's row metadata
    sameAsInferred(FileIndex.listParquet(s"$fixtureDir/places_place"))
    // a file parquet-hadoop wrote on the driver, without Spark metadata:
    // the parquet schema is converted under the session's conf
    val hist = graft.TempDir("graft_schema_hist").toString
    graft.session.LoadHistory.append(spark, hist, graft.session.LoadHistory.Entry(
      "places/place", "local", "[-4,-2,4,2]", 33000, cached = false, 100, 4, 42))
    val files = FileIndex.listParquet(s"$hist/_load_history")
    assert(files.size == 1)
    sameAsInferred(files)
  }

  test("footer bbox manifest matches data") {
    val paths = FileIndex.listParquet(s"$fixtureDir/places_place")
    val manifest = FileIndex.build(spark, paths)
    assert(manifest.size == 4)
    manifest.values.foreach { b =>
      assert(b.xmin >= -2.0 && b.xmax <= 2.0 && b.ymin >= -1.0 && b.ymax <= 1.0)
    }
    // pruning with a window outside all data removes every file
    assert(FileIndex.prune(manifest, paths, 100, 100, 101, 101).isEmpty)
    // full-extent window keeps all
    assert(FileIndex.prune(manifest, paths, -10, -10, 10, 10).size == 4)
  }

  test("listParquet over an fs-scheme URI goes through Hadoop FS (s3a stand-in)") {
    // a `file:` URI exercises the same Hadoop FileSystem code path an
    // s3a:// or abfs:// URI takes — only the scheme's FS impl differs
    val uriDir = s"file:$fixtureDir/places_place"
    val viaFs = FileIndex.listParquet(uriDir)
    assert(viaFs.size == 4)
    assert(viaFs.forall(p => p.startsWith("file:") && p.endsWith(".parquet")))
    // footer manifest builds from the URIs too (same HadoopInputFile path)
    val manifest = FileIndex.build(spark, viaFs)
    assert(manifest.size == 4)
    // and the local-path contract is unchanged
    val local = FileIndex.listParquet(s"$fixtureDir/places_place")
    assert(local.map(p => new java.io.File(p).getName) ==
      viaFs.map(p => p.substring(p.lastIndexOf('/') + 1)))
    assert(FileIndex.listParquet("s3a-nonexistent-dir-without-scheme").isEmpty)
  }

  test("exportTheme with z-order clustering writes spatially tight files") {
    Ingest.loadTheme(spark, fixtureDir, "places/place")
    val out = graft.TempDir("graft_export").toString
    Ingest.exportTheme(spark, "places_place", out, zorderPartitions = Some(4))
    val files = FileIndex.listParquet(out)
    assert(files.size == 4)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("centroid_lon"),
          org.apache.spark.sql.functions.max("centroid_lon"),
          org.apache.spark.sql.functions.min("centroid_lat"),
          org.apache.spark.sql.functions.max("centroid_lat")).head()
      (r.getDouble(1) - r.getDouble(0)) * (r.getDouble(3) - r.getDouble(2))
    }
    val g = spark.table("places_place")
      .agg(org.apache.spark.sql.functions.min("centroid_lon"),
        org.apache.spark.sql.functions.max("centroid_lon"),
        org.apache.spark.sql.functions.min("centroid_lat"),
        org.apache.spark.sql.functions.max("centroid_lat")).head()
    val globalArea = (g.getDouble(1) - g.getDouble(0)) * (g.getDouble(3) - g.getDouble(2))
    // clustered files tile the extent (~1x coverage); unclustered
    // writes would each span the whole extent (~4x). Range-sampling
    // can split a tile mid-quadrant, so allow up to 2.5x.
    assert(spans.sum < globalArea * 2.5,
      s"file stats span ${spans.sum} vs global $globalArea — not clustered")
    Ingest.dropTheme(spark, "places/place")
  }

  test("listUserTables hides system and fts helper tables") {
    Ingest.loadTheme(spark, fixtureDir, "places/place")
    spark.range(1).createOrReplaceTempView("_session")
    spark.range(1).createOrReplaceTempView("fts_main_places_place")
    val tables = Ingest.listUserTables(spark)
    assert(tables.contains("places_place"))
    assert(!tables.exists(_.startsWith("_")))
    assert(!tables.exists(_.startsWith("fts_")))
    Ingest.dropTheme(spark, "places/place")
  }
}
