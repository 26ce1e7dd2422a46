package graft.fts

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The FTS index of a driver-held table is built on the driver; it
  * must hold exactly the rows the distributed build makes over the
  * same documents read from files, `idf` and `avgdl` bit for bit.
  */
class FtsLocalBuildSpec extends AnyFunSuite {

  // the driver build is `plans.LocalEvalRule`'s fold, which
  // `Engine.prepare` registers
  lazy val spark: SparkSession = graft.core.Engine.prepare(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate())

  /** NULL and empty names, non-ASCII names, a duplicated id and a NULL
    * id: every case where the two builds could count differently.
    */
  private lazy val docs = {
    import spark.implicits._
    Seq[(String, String)](
      ("d1", "Blue Bottle Coffee"),
      ("d2", "Coffee coffee coffee roasters"),
      ("d3", null),
      ("d4", ""),
      ("d5", "Café Zürich — Straße 12"),
      ("d6", "İstanbul ÇAY Evi"),
      ("d7", "東京 Ramen 2"),
      ("d1", "running runners ran"),
      ("d8", "connected connecting connection -- --"),
      (null, "orphan coffee")
    ).toDF("id", "search_name")
  }

  private lazy val registered: Unit = {
    DatasetBridge.collectToLocal(docs)._1.createOrReplaceTempView("fts_docs_local")
    val dir = graft.TempDir("graft_fts_local").toString
    docs.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("fts_docs_file")
  }

  /** The index rows as a multiset, doubles by their bits. */
  private def indexRows(table: String): Map[Seq[Any], Int] =
    spark.table(FtsIndex.indexName(table)).collect().toSeq
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      })
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def isLocal(table: String): Boolean =
    DatasetBridge.localRelation(spark.table(FtsIndex.indexName(table))).isDefined

  Seq(false, true).foreach { stem =>
    test(s"the driver-built index equals the distributed one (stem = $stem)") {
      registered
      FtsIndex.build(spark, "fts_docs_local", stem)
      FtsIndex.build(spark, "fts_docs_file", stem)
      assert(isLocal("fts_docs_local"))
      assert(!isLocal("fts_docs_file"))
      val local = spark.table(FtsIndex.indexName("fts_docs_local"))
      assert(local.schema == spark.table(FtsIndex.indexName("fts_docs_file")).schema)
      assert(local.columns.toSeq == Seq("term", "id", "tf", "doclen", "df", "ndocs", "avgdl", "idf"))
      val rows = indexRows("fts_docs_local")
      assert(rows.nonEmpty)
      assert(rows == indexRows("fts_docs_file"))
      assert(FtsIndex.isStemmed("fts_docs_local") == stem)
      Seq("fts_docs_local", "fts_docs_file").foreach(FtsIndex.drop(spark, _))
    }
  }

  test("geo_places held on the driver gives the FTS oracle rows the file-backed view gives") {
    // a child session: its own temp views, so the shared session keeps
    // the file-backed geo views the other suites plan against
    val s = spark.newSession()
    // the sf0.001 test tables, next to the checkout
    val dir = new java.io.File("../testdata/sf0.001").getCanonicalPath
    val names = Seq("fts_search_ranked", "pipeline_search_fts")
    def run(): Map[String, Seq[Row]] =
      names.map(n => n -> SparkEntry.queries(n)(s, dir).collect().toSeq).toMap
    val overFiles = run()
    assert(DatasetBridge.localRelation(s.table(FtsIndex.indexName("geo_places"))).isEmpty)
    DatasetBridge.collectToLocal(s.table("geo_places"))._1.createOrReplaceTempView("geo_places")
    FtsIndex.drop(s, "geo_places")
    val overLocal = run()
    assert(DatasetBridge.localRelation(s.table(FtsIndex.indexName("geo_places"))).isDefined)
    names.foreach { n =>
      assert(overFiles(n).nonEmpty, n)
      assert(overLocal(n) == overFiles(n), n)
    }
  }
}
