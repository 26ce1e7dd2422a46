package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Hot-gram skew stress for span dedup (VERDICT r10 Next #6): at web
  * scale a boilerplate n-gram can appear in half the corpus, and the
  * round-10 formulation (a window partitioned by the gram hash)
  * buffered that gram's whole position list on one task. This suite
  * plants one 8-gram in 50% of documents and proves
  *   1. the plan contains NO window partitioned by the gram hash —
  *      dup-gram detection is a two-level fold (map-side partial
  *      min/max/count per input partition, then a per-gram combine of
  *      ≤ #partitions partial rows) + an equi-join back, so no single
  *      task ever buffers a gram's occurrence list (the only windows
  *      left are the per-document island merges, bounded by doc
  *      length); and
  *   2. the spans are exactly the planted boilerplate positions —
  *      the fold form is result-identical to the window form.
  */
class SpanSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val Phrase = "alpha bravo charlie delta echo foxtrot golf hotel"

  /** 200 docs; even ids carry the shared phrase after 4 unique
    * tokens, odd ids are fully unique. Every non-phrase 8-gram
    * contains a doc-unique token, so cross-doc duplication marks
    * exactly the phrase positions [4, 11] of even docs.
    */
  private def corpus = {
    import spark.implicits._
    (0 until 200).map { i =>
      val uniq = (0 until 4).map(j => s"u${i}x$j").mkString(" ")
      val tail = (0 until 4).map(j => s"t${i}y$j").mkString(" ")
      val text = if (i % 2 == 0) s"$uniq $Phrase $tail" else
        s"$uniq ${(0 until 8).map(j => s"p${i}z$j").mkString(" ")} $tail"
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("no window is partitioned by the gram hash (two-level fold)") {
    val res = Dedup.duplicateSpans(corpus, "doc_id", "text", n = 8)
    res.collect() // run to the final adaptive plan
    val plan = res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val ghWindows = plan.collectWithSubqueries { case w: WindowExec => w }
      .filter(_.partitionSpec.exists(_.references.exists(_.name == "gh")))
    assert(ghWindows.isEmpty,
      s"dup-gram detection must not buffer per-gram windows:\n${ghWindows.mkString("\n")}")
  }

  test("a gram in 50% of docs yields exactly the planted spans") {
    val rows = Dedup.duplicateSpans(corpus, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val expected = (0 until 200 by 2).map(i => (i.toLong, 4L, 11L, 8L))
    assert(rows.toSeq == expected)
  }

  test("incremental span dedup equals the full-batch removal restricted to the increment") {
    import spark.implicits._
    def uniq(d: Int, k: Int) = (0 until k).map(j => s"u${d}v$j").mkString(" ")
    val pA = "apple banana cherry damson elder"   // cross-doc inside the index
    val pB = "fig grape honeydew icaco jujube"    // index doc 6 ↔ increment doc 11
    val pC = "kiwi lemon mango nectar orange"     // within-increment only (12 ↔ 13)
    val docs = Seq(
      2L -> s"${uniq(2, 5)} $pA ${uniq(2 + 100, 5)}",
      4L -> s"${uniq(4, 5)} $pA ${uniq(4 + 100, 5)}",
      6L -> s"${uniq(6, 5)} $pB ${uniq(6 + 100, 5)}",
      8L -> uniq(8, 15),
      11L -> s"${uniq(11, 5)} $pB ${uniq(11 + 100, 5)}",
      12L -> s"${uniq(12, 5)} $pC ${uniq(12 + 100, 5)}",
      13L -> s"${uniq(13, 5)} $pC ${uniq(13 + 100, 5)}",
      14L -> uniq(14, 15)
    ).toDF("doc_id", "text")
    val old = docs.where($"doc_id" <= 10)
    val inc = docs.where($"doc_id" > 10)
    val path = graft.TempDir("graft_spanidx").toString
    Dedup.writeSpanGramIndex(old, "doc_id", "text", path, n = 5)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val got = Dedup.removeDuplicateSpansIncrement(inc, "doc_id", "text", path, n = 5)
    val batch = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 5)
      .where($"doc_id" > 10)
    assert(rows(got) == rows(batch))
    // the three leak modes each did their job: 11 loses pB (via the
    // index), 12 and 13 lose pC (within-increment), 14 is untouched
    val cut = got.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cut == Map(11L -> 5L, 12L -> 5L, 13L -> 5L, 14L -> 0L))

    // RETRY stability: the shard's grams were appended above; the
    // same shard re-ingested must reproduce the identical verdicts —
    // its own index rows only mark what the within rule already marks
    val retry = Dedup.removeDuplicateSpansIncrement(inc, "doc_id", "text",
      path, n = 5, appendGrams = false)
    assert(rows(retry) == rows(got))
    // and the index now carries every distinct gram of the union
    val idxGh = IncrementalIndex.Span.read(spark, path)
      .select("gh").distinct().count()
    val expectGh = docs.select(org.apache.spark.sql.functions.explode(
        graft.functions.TextExpressions.shingle_hashes(
          org.apache.spark.sql.functions.col("text"), 5)).as("gh"))
      .distinct().count()
    assert(idxGh == expectGh)
  }

  test("within-doc mode (crossDocOnly=false) still finds the repeats") {
    import spark.implicits._
    // one doc with the phrase twice, one clean doc
    val df = Seq(
      (1L, s"$Phrase mid1 mid2 $Phrase"),
      (2L, (0 until 20).map(j => s"q$j").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.duplicateSpans(df, "doc_id", "text", n = 8, crossDocOnly = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the two phrase occurrences: tokens [0,7] and [10,17]
    assert(rows.toSet == Set((1L, 0L, 7L), (1L, 10L, 17L)))
  }
}
