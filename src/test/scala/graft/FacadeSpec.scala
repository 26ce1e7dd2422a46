package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.ingest.OvertureFixtures

/** Pins the `Graft` facade: every composite equals the oracle-checked
  * `SparkEntry` row that computes the same thing with the same
  * parameters, the rest of the surface round-trips, and the public
  * method set is exactly the list below — a new method must come with
  * a case here.
  */
class FacadeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private lazy val g = new Graft(spark,
    graft.TempDir("facade_state").toString)

  private def documents: DataFrame = {
    graft.core.Tables.registerAll(spark, dir)
    spark.table("documents")
  }

  /** The rows of `df` over `like`'s columns, in `like`'s types, as a
    * sorted multiset of JSON strings (binary, array and map values
    * compare by content).
    */
  private def rowsLike(df: DataFrame, like: DataFrame): Seq[String] =
    df.select(to_json(struct(like.schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)))
      .collect().map(_.getString(0)).sorted.toSeq

  private def rows(df: DataFrame): Seq[String] = rowsLike(df, df)

  /** A composite and the oracle row it must equal. `drops` marks a
    * dedup composite, whose row must drop something at this scale so
    * the pin is not vacuous.
    */
  private case class Pin(method: String, row: String, drops: Boolean,
                         run: DataFrame => DataFrame)

  private val pins = Seq(
    Pin("dedupNear", "dedup_drop_near", drops = true,
      d => g.dedupNear(d, "doc_id", "text", threshold = 0.25)),
    Pin("dedupWinnow", "dedup_drop_winnow", drops = true,
      d => g.dedupWinnow(d, "doc_id", "text", Seq("lang", "source"), threshold = 0.5)),
    Pin("repetitionStats", "text_repetition", drops = false,
      d => g.repetitionStats(d).select(col("doc_id"), col("rep_stats.*"))),
    Pin("writeShards", "sample_shard_snake", drops = false, { d =>
      val out = graft.TempDir("facade_shards").toString
      g.writeShards(d, out, "n_chars", nShards = 4, bandWidth = 16)
      spark.read.parquet(out)
    }))

  pins.foreach { p =>
    test(s"${p.method} equals the ${p.row} oracle row") {
      val expected = SparkEntry.queries(p.row)(spark, dir)
      val want = rows(expected)
      assert(want.nonEmpty)
      if (p.drops) assert(want.size < documents.count())
      assert(rowsLike(p.run(documents), expected) == want)
    }
  }

  test("fromArrow(sqlArrow(q)) equals sql(q)") {
    documents.createOrReplaceTempView("facade_docs")
    val q = "SELECT doc_id, lang, source, n_chars, text FROM facade_docs WHERE doc_id % 3 = 0"
    val direct = g.sql(q)
    val back = g.fromArrow(g.sqlArrow(q, maxRecordsPerBatch = 7))
    assert(back.schema == direct.schema)
    assert(rows(direct).nonEmpty)
    assert(rows(back) == rows(direct))
  }

  private lazy val places: DataFrame = {
    val area = graft.TempDir("facade_area").toString
    OvertureFixtures.write(spark, area, n = 150, files = 3)
    g.loadArea(area, Seq("places/place"))
    spark.table("places_place")
  }

  test("exportTable reads back equal to the table, with and without z-order") {
    val want = rows(places)
    assert(want.nonEmpty)
    Seq(None, Some(4)).foreach { z =>
      val out = graft.TempDir("facade_export").toString
      g.exportTable("places_place", out, zorderPartitions = z)
      assert(rowsLike(spark.read.parquet(out), places) == want, s"zorderPartitions = $z")
    }
  }

  test("a pipeline session runs the compiled pipeline") {
    places
    val nodes = Seq(PipelineNode("p1", "source", "", "places_place", "places/place"))
    val sess = g.pipeline(debounceMs = 60000)
    try {
      sess.update(nodes = nodes, limit = 10)
      val n = sess.executeNow().get.count()
      assert(n > 0 && n == g.runPipeline(nodes, Options(limit = 10)).count())
    } finally sess.close()
  }

  test("duckSql needs no per-call registration on a freshly prepared session") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("list_sum"))
    val v = new Graft(fresh,
      graft.TempDir("facade_fresh").toString)
      .duckSql("SELECT list_sum([1, 2, 3])").head().getAs[Number](0)
    assert(v.longValue == 6L)
  }

  /** The public surface: the constructor's accessors, the
    * reference-app methods and the pinned composites.
    */
  private val surface = Set(
    "spark", "sessionState",
    "loadArea", "dropArea", "pipeline", "runPipeline", "search", "sql",
    "duckSql", "sqlArrow", "fromArrow", "features", "loadHistory",
    "exportTable") ++ pins.map(_.method)

  test("Graft's public methods are exactly the listed surface") {
    // names with `$` are compiler-generated: default-argument
    // accessors and lambda bodies
    val public = classOf[Graft].getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(public == surface)
  }
}
