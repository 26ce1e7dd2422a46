package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** bboxPrunedTable: a plain-SQL bbox predicate must cut the scanned
  * file list at planning time (the custom FileIndex seam), with
  * results identical to an unpruned read.
  */
class GeoScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  /** 4 parquet files, each covering its own 10-wide x-band. */
  private lazy val dir: String = {
    val d = graft.TempDir("geoscan").toFile
    d.deleteOnExit()
    (0 until 4).foreach { band =>
      val rows = (0 until 25).map { i =>
        val x = band * 10.0 + (i % 10) * 0.9
        val y = (i / 5) * 2.0
        (band * 100L + i, x, y)
      }
      rows.toDF("id", "x", "y")
        .select($"id",
          struct($"x".as("xmin"), ($"x" + 0.5).as("xmax"),
            $"y".as("ymin"), ($"y" + 0.5).as("ymax")).as("bbox"))
        .coalesce(1)
        .write.mode("append").parquet(d.getAbsolutePath)
    }
    d.getAbsolutePath
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // metrics populate on execution
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    assert(scans.nonEmpty, "expected a FileSourceScanExec in the plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("bbox SQL predicate prunes files; results match the unpruned scan") {
    GeoScan.bboxPrunedTable(spark, dir).createOrReplaceTempView("geoscan_t")

    // window [12, 18]: only the band-1 file (x in [10,19.6]) intersects
    val q = """SELECT id FROM geoscan_t
              |WHERE bbox.xmax >= 12.0 AND bbox.xmin <= 18.0""".stripMargin
    val pruned = spark.sql(q)
    val n = scannedFiles(pruned)
    assert(n == 1, s"expected 1 of 4 files scanned, got $n")

    val expected = spark.read.parquet(dir)
      .where($"bbox.xmax" >= 12.0 && $"bbox.xmin" <= 18.0)
      .select($"id").collect().map(_.getLong(0)).sorted
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == expected.toSeq)
  }

  test("no bbox predicate scans every file; orthogonal predicates keep all files") {
    val all = scannedFiles(spark.sql("SELECT id FROM geoscan_t"))
    assert(all == 4)
    // id predicate can't prune via the bbox manifest
    val byId = scannedFiles(spark.sql("SELECT id FROM geoscan_t WHERE id < 10"))
    assert(byId == 4)
  }

  test("within-window form prunes too (xmin >= / xmax <= bounds)") {
    val q = """SELECT id FROM geoscan_t
              |WHERE bbox.xmin >= 30.0 AND bbox.xmax <= 41.0""".stripMargin
    val df = spark.sql(q)
    val n = scannedFiles(df)
    assert(n == 1, s"expected 1 of 4 files scanned, got $n")
    assert(df.count() == 25) // the whole band-3 file qualifies
  }

  test("refresh() picks up appended files") {
    val d = graft.TempDir("geoscan_r").toFile
    d.deleteOnExit()
    def writeBand(band: Int): Unit =
      (0 until 10).map(i => (band * 100L + i, band * 10.0 + i * 0.9, 1.0))
        .toDF("id", "x", "y")
        .select($"id", struct($"x".as("xmin"), ($"x" + 0.5).as("xmax"),
          $"y".as("ymin"), ($"y" + 0.5).as("ymax")).as("bbox"))
        .coalesce(1).write.mode("append").parquet(d.getAbsolutePath)
    writeBand(0)
    val df = GeoScan.bboxPrunedTable(spark, d.getAbsolutePath)
    assert(df.count() == 10)
    writeBand(1)
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.refresh()
    }
    assert(df.count() == 20)
  }

  test("fileTest unit: canonical + flipped forms, unknown columns ignored") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    val b = FileIndex.FileBBox("f", 10.0, 0.0, 20.0, 5.0)
    val xmaxAttr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "xmax", org.apache.spark.sql.types.DoubleType)()
    val t1 = GeoScan.fileTest(
      org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(xmaxAttr, Literal(15.0)))
    assert(t1.exists(_(b)))       // file.xmax=20 >= 15 → keep
    val t2 = GeoScan.fileTest(
      org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(xmaxAttr, Literal(25.0)))
    assert(t2.exists(!_(b)))      // file.xmax=20 < 25 → prune
    val other = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "population", org.apache.spark.sql.types.DoubleType)()
    assert(GeoScan.fileTest(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(other, Literal(1.0))).isEmpty)
  }
}
