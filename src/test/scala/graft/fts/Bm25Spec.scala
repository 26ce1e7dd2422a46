package graft.fts

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class Bm25Spec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    import s.implicits._
    Seq(
      ("d1", "Blue Bottle Coffee", 1.0, 2.0),
      ("d2", "Coffee coffee coffee roasters", 1.0, 2.0),
      ("d3", "Tea House", 1.0, 2.0),
      ("d4", "The Coffee Bean and Tea Leaf", 1.0, 2.0),
      ("d5", "O'Brien's Pub", 1.0, 2.0)
    ).toDF("id", "search_name", "centroid_lon", "centroid_lat")
      .withColumn("display_name", org.apache.spark.sql.functions.col("search_name"))
      .createOrReplaceTempView("fts_docs")
    s
  }

  test("tokenizer lowercases and splits on non-alphanumerics") {
    assert(FtsIndex.tokenize("O'Brien's Pub-42") == Seq("o", "brien", "s", "pub", "42"))
    assert(FtsIndex.tokenize("") == Seq.empty)
    assert(FtsIndex.tokenize(null) == Seq.empty)
  }

  test("escape doubles single quotes") {
    assert(Bm25.escapeSqlString("o'brien") == "o''brien")
  }

  test("index has correct term statistics") {
    FtsIndex.build(spark, "fts_docs")
    val idx = spark.table("fts_main_fts_docs").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[String]("id"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"))).toSeq
    // "coffee" appears in d1 (tf=1), d2 (tf=3), d4 (tf=1) → df=3
    val coffee = idx.filter(_._1 == "coffee")
    assert(coffee.map(_._2).toSet == Set("d1", "d2", "d4"))
    assert(coffee.forall(_._4 == 3))
    assert(coffee.find(_._2 == "d2").get._3 == 3)
  }

  test("bm25 scores: higher tf wins, rarity boosts, search ranks") {
    val res = Bm25.searchTable(spark, "fts_docs", "coffee", 10).collect()
    assert(res.map(_.getAs[String]("id")).toSet == Set("d1", "d2", "d4"))
    // d2 (tf=3) outranks d1/d4 (tf=1)
    assert(res.head.getAs[String]("id") == "d2")
    val scores = res.map(_.getAs[Double]("_score"))
    assert(scores.forall(_ > 0))

    // hand-check one score: d1, term "coffee": tf=1, df=3, N=5,
    // doclen=3, avgdl = (3+4+2+6+4)/5 = 3.8 ("o brien s pub" = 4 tokens)
    val idf = math.log(1.0 + (5 - 3 + 0.5) / (3 + 0.5))
    val expected = idf * 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3.8))
    val d1Score = res.find(_.getAs[String]("id") == "d1").get.getAs[Double]("_score")
    assert(math.abs(d1Score - expected) < 1e-12, s"got $d1Score want $expected")
  }

  test("multi-term query sums term scores; quoted query is safe") {
    val res = Bm25.searchTable(spark, "fts_docs", "coffee tea", 10).collect()
    // d4 has both terms → top
    assert(res.head.getAs[String]("id") == "d4")
    val quoted = Bm25.searchTable(spark, "fts_docs", "o'brien", 10).collect()
    assert(quoted.map(_.getAs[String]("id")).toSet == Set("d5"))
  }

  test("ilike fallback without index, shortest-name-first") {
    FtsIndex.drop(spark, "fts_docs")
    assert(!FtsIndex.hasIndex(spark, "fts_docs"))
    val res = Bm25.searchTable(spark, "fts_docs", "coffee", 10).collect()
    assert(res.map(_.getAs[String]("id")).toSet == Set("d1", "d2", "d4"))
    // shortest search_name first: d1 (18) < d4 (28) < d2 (29)
    assert(res.map(_.getAs[String]("id")).toSeq == Seq("d1", "d4", "d2"))
    assert(res.forall(_.isNullAt(res.head.fieldIndex("_score"))))
  }

  test("stemmed index folds inflections and matches stemmed queries") {
    FtsIndex.build(spark, "fts_docs", stem = true)
    assert(FtsIndex.isStemmed("fts_docs"))
    // "roasters" stems to "roaster"; query "roaster" must hit d2
    val res = Bm25.searchTable(spark, "fts_docs", "roaster", 10).collect()
    assert(res.map(_.getAs[String]("id")).toSet == Set("d2"))
    // rebuild unstemmed restores exact-token behavior
    FtsIndex.build(spark, "fts_docs")
    assert(!FtsIndex.isStemmed("fts_docs"))
    assert(Bm25.searchTable(spark, "fts_docs", "roaster", 10).collect().isEmpty)
    FtsIndex.drop(spark, "fts_docs")
  }

  test("searchAll isolates broken tables") {
    val rows = Bm25.searchAll(spark, Seq("fts_docs", "no_such_table"), "tea")
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("source_table") == "fts_docs"))
  }

  test("hasIndex tracks the index view: absent, then built, then dropped") {
    spark.table("fts_docs").createOrReplaceTempView("fts_presence")
    assert(!FtsIndex.hasIndex(spark, "fts_presence"))
    FtsIndex.build(spark, "fts_presence")
    assert(FtsIndex.hasIndex(spark, "fts_presence"))
    // the lookup follows the catalog's name resolution, as the view does
    assert(FtsIndex.hasIndex(spark, "FTS_Presence") ==
      spark.catalog.tableExists(FtsIndex.indexName("FTS_Presence")))
    FtsIndex.drop(spark, "fts_presence")
    assert(!FtsIndex.hasIndex(spark, "fts_presence"))
  }
}
