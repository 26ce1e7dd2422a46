package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Operators over driver-held rows fold on the driver into one
  * `LocalRelation`, holding the rows Spark's own execution returns for
  * the same query over the same rows made non-local
  * (`localCheckpoint`); what the rule leaves to Spark comes back
  * unchanged.
  */
class LocalEvalRuleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.Engine.prepare(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate())

  private def local(values: Long*): LocalRelation =
    LocalRelation(Seq(AttributeReference("v", LongType, nullable = false)()),
      values.map(v => InternalRow(v)))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** A row as text: binary as hex, doubles by their bits, so -0.0,
    * 0.0 and NaN stay apart.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case o => o.toString
  }

  /** Runs `sql` over `tables` as driver-held views, where it must fold
    * to one local relation, and over the same rows checkpointed, where
    * Spark runs it; returns both results as canonical rows.
    */
  private def both(sql: String, tables: (String, DataFrame)*): (Seq[String], Seq[String]) = {
    tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val folded = spark.sql(sql)
    assert(isLocal(folded), s"not folded:\n${folded.queryExecution.optimizedPlan}")
    val got = folded.collect().toSeq.map(canon)
    tables.foreach { case (n, df) => df.localCheckpoint(true).createOrReplaceTempView(n) }
    val onSpark = spark.sql(sql)
    assert(!isLocal(onSpark))
    val want = onSpark.collect().toSeq.map(canon)
    tables.foreach { case (n, _) => spark.catalog.dropTempView(n) }
    (got, want)
  }

  /** [[both]], compared as sorted multisets. */
  private def sameRows(sql: String, tables: (String, DataFrame)*): Seq[String] = {
    val (got, want) = both(sql, tables: _*)
    assert(got.sorted == want.sorted, sql)
    got
  }

  private lazy val a = {
    import spark.implicits._
    Seq[(Option[Int], String)]((Some(1), "a1"), (Some(2), "a2"), (Some(2), "a2b"), (None, "an"),
      (Some(4), "a4"), (Some(5), "a5")).toDF("k", "v")
  }
  private lazy val b = {
    import spark.implicits._
    Seq[(Option[Int], String)]((Some(2), "b2"), (Some(2), "x"), (None, "bn"), (Some(4), "b4"),
      (Some(7), "b7")).toDF("k", "w")
  }

  test("inner, left outer, semi and anti joins with NULL keys match Spark's") {
    val ab = Seq("a" -> a, "b" -> b)
    assert(sameRows("SELECT * FROM a JOIN b ON a.k = b.k", ab: _*).length == 5)
    sameRows("SELECT * FROM a LEFT JOIN b ON a.k = b.k AND b.w <> 'x'", ab: _*)
    sameRows("SELECT * FROM a LEFT SEMI JOIN b ON a.k = b.k AND b.w <> 'x'", ab: _*)
    sameRows("SELECT * FROM a LEFT ANTI JOIN b ON a.k = b.k", ab: _*)
    // a keyless join: the nested loop, and a cross join
    sameRows("SELECT * FROM a JOIN b ON a.k < b.k", ab: _*)
    sameRows("SELECT * FROM a LEFT JOIN b ON a.k > b.k", ab: _*)
    sameRows("SELECT * FROM a CROSS JOIN b", ab: _*)
  }

  test("<=> keys match NULL with NULL, as in Spark") {
    val rows = sameRows("SELECT a.v, b.w FROM a JOIN b ON a.k <=> b.k",
      "a" -> a, "b" -> b)
    assert(rows.contains("(an,bn)"))
  }

  test("NOT IN, the null-aware anti join, matches Spark's") {
    // a NULL in the subquery keeps no row; without it, a NULL key is dropped
    assert(sameRows("SELECT * FROM a WHERE k NOT IN (SELECT k FROM b)",
      "a" -> a, "b" -> b).isEmpty)
    assert(sameRows("SELECT * FROM a WHERE k NOT IN (SELECT k FROM b WHERE k IS NOT NULL)",
      "a" -> a, "b" -> b).map(_.takeWhile(_ != ',')).sorted == Seq("(1", "(5"))
    // an empty subquery keeps every row, the NULL key too
    assert(sameRows("SELECT * FROM a WHERE k NOT IN (SELECT k FROM b WHERE k > 100)",
      "a" -> a, "b" -> b).length == 6)
  }

  private lazy val nums = {
    import spark.implicits._
    Seq[(String, Option[Int], Option[Long], Option[Double], Option[BigDecimal])](
      ("g1", Some(1), Some(10L), Some(0.5), Some(BigDecimal("1.25"))),
      ("g1", None, Some(-3L), Some(2.25), None),
      ("g1", Some(7), None, None, Some(BigDecimal("-0.75"))),
      ("g2", Some(-2), Some(4L), Some(-1.5), Some(BigDecimal("100.10"))),
      ("g2", Some(3), Some(4L), Some(8.0), Some(BigDecimal("0.05"))),
      ("g3", None, None, None, None)
    ).toDF("g", "i", "l", "d", "m").selectExpr("g", "i", "l", "d", "CAST(m AS DECIMAL(10, 2)) AS m")
  }

  test("sum, count, min, max and avg with NULLs, decimals and doubles match Spark's") {
    val aggs = "sum(i), count(i), count(*), min(l), max(l), sum(l), min(d), max(d), sum(d), " +
      "avg(d), avg(i), min(m), max(m), sum(m), avg(m)"
    assert(sameRows(s"SELECT g, $aggs FROM t GROUP BY g", "t" -> nums).length == 3)
    assert(sameRows(s"SELECT $aggs FROM t", "t" -> nums).length == 1)
    // a global aggregate over no rows still returns its one row
    assert(sameRows(s"SELECT $aggs FROM t WHERE g = 'none'", "t" -> nums).length == 1)
    // an aggregate in an expression, and a grouping expression reused
    sameRows("SELECT upper(g) AS u, sum(i) * 2 + count(*) AS s FROM t GROUP BY upper(g)",
      "t" -> nums)
  }

  test("grouping on a binary key and on -0.0 vs 0.0 matches Spark's") {
    import spark.implicits._
    val bin = Seq[(Array[Byte], Int)]((Array[Byte](1, 2), 1), (Array[Byte](1, 2), 2),
      (Array[Byte](3), 3), (null, 4), (null, 5)).toDF("b", "n")
    assert(sameRows("SELECT b, count(*), sum(n) FROM t GROUP BY b", "t" -> bin).length == 3)
    val zeros = Seq(-0.0, 0.0, 0.0, Double.NaN, -Double.NaN, 1.0).toDF("x")
    val groups = sameRows("SELECT x, count(*) FROM t GROUP BY x", "t" -> zeros)
    assert(groups.length == 3, groups) // 0.0 (three rows), NaN (two) and 1.0
  }

  test("sorts with NULLS FIRST and NULLS LAST match Spark's order") {
    Seq("k ASC NULLS FIRST, v", "k ASC NULLS LAST, v", "k DESC NULLS FIRST, v DESC",
        "k DESC NULLS LAST, v").foreach { order =>
      val (got, want) = both(s"SELECT * FROM a ORDER BY $order", "a" -> a)
      assert(got == want, order)
    }
    val (got, want) = both("SELECT * FROM a ORDER BY k NULLS FIRST, v LIMIT 3", "a" -> a)
    assert(got == want && got.head.startsWith("(null"))
  }

  test("Expand (ROLLUP) matches Spark's") {
    val q = "SELECT g, i, count(*), sum(l) FROM t GROUP BY ROLLUP(g, i)"
    val plan = spark.sql(q.replace("FROM t", "FROM VALUES ('x', 1, 2L) AS t(g, i, l)"))
      .queryExecution.analyzed
    assert(plan.collectFirst { case e: Expand => e }.nonEmpty)
    sameRows(q, "t" -> nums)
  }

  test("explode and explode_outer match Spark's") {
    import spark.implicits._
    val arr = Seq[(Int, Option[Seq[Option[Int]]])]((1, Some(Seq(Some(1), Some(2)))),
      (2, Some(Seq())), (3, None), (4, Some(Seq(None, Some(5))))).toDF("id", "xs")
    assert(sameRows("SELECT id, explode(xs) AS x FROM t", "t" -> arr).length == 4)
    assert(sameRows("SELECT id, explode_outer(xs) AS x FROM t", "t" -> arr).length == 6)
    sameRows("SELECT id, pos, x FROM t LATERAL VIEW OUTER posexplode(xs) p AS pos, x",
      "t" -> arr)
  }

  test("a UNION ALL of local relations becomes one local relation, rows in order") {
    val (l, r) = (local(1, 2), local(3))
    LocalEvalRule(Union(Seq(l, r))) match {
      case folded: LocalRelation =>
        assert(folded.output == l.output)
        assert(folded.data.map(_.getLong(0)) == Seq(1L, 2L, 3L))
      case other => fail(s"not folded:\n$other")
    }
  }

  test("the projection and limit above a folded union fold on the driver too") {
    val u = Union(Seq(local(1, 2), local(3, 4)))
    val plan = GlobalLimit(Literal(3), LocalLimit(Literal(3), u))
    LocalEvalRule(plan) match {
      case l: LocalRelation => assert(l.data.map(_.getLong(0)) == Seq(1L, 2L, 3L))
      case other => fail(s"not folded:\n$other")
    }
  }

  test("a distinct UNION folds to the rows Spark's plan returns") {
    val u = Union(Seq(local(1, 2), local(2)))
    // after Spark's rewrite, a distinct union is a group-only aggregate
    LocalEvalRule(Aggregate(u.output, u.output, u, None)) match {
      case l: LocalRelation => assert(l.data.map(_.getLong(0)).sorted == Seq(1L, 2L))
      case other => fail(s"not folded:\n$other")
    }
    assert(sameRows("SELECT k FROM a UNION SELECT k FROM b", "a" -> a, "b" -> b).length == 6)
    assert(sameRows("SELECT DISTINCT k FROM a", "a" -> a).length == 5)
  }

  test("a by-name union and a union with a non-local child are left unchanged") {
    val byName = Union(Seq(local(1), local(2)), byName = true, allowMissingCol = false)
    assert(LocalEvalRule(byName) eq byName)
    val l = local(1)
    val mixed = Union(Seq(l, Range(0, 3, 1, Some(1), l.output.map(_.newInstance()), false)))
    assert(LocalEvalRule(mixed) eq mixed)
  }

  test("registered on prepared sessions: SQL over local data plans one local scan") {
    import spark.implicits._
    Seq(1L, 2L).toDF("v").createOrReplaceTempView("_ler_a")
    Seq(3L).toDF("v").createOrReplaceTempView("_ler_b")
    val all = spark.sql("SELECT v + 1 AS w FROM _ler_a UNION ALL SELECT v + 1 FROM _ler_b")
    assert(isLocal(all), all.queryExecution.optimizedPlan.toString)
    assert(all.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
    spark.catalog.dropTempView("_ler_a")
    spark.catalog.dropTempView("_ler_b")
  }

  test("a non-deterministic expression is left to Spark") {
    val l = local(1, 2, 3)
    val sort = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, l)
    assert(LocalEvalRule(sort) eq sort)
    val v = l.output.head
    val agg = Aggregate(Nil, Seq(Alias(Sum(Add(Cast(v, DoubleType), Rand(Literal(7L))))
      .toAggregateExpression(), "s")()), l, None)
    assert(LocalEvalRule(agg) eq agg)
  }

  test("a collect_list aggregate is left to Spark") {
    val l = local(1, 2, 2)
    val v = l.output.head
    val agg = Aggregate(Seq(v), Seq(v, Alias(CollectList(v).toAggregateExpression(), "vs")()),
      l, None)
    assert(LocalEvalRule(agg) eq agg)
    assert(!isLocal(spark.sql("SELECT k, collect_list(v) FROM VALUES (1, 'a') AS t(k, v) GROUP BY k")))
  }

  test("a fold over the row bound is left to Spark") {
    val n = LocalEvalRule.MaxRows / 8 // nine copies of each row pass the bound
    val l = local((0L until n): _*)
    val v = l.output.head
    val copies = (0 until 9).map(i => Seq(v, Literal(i.toLong)))
    val expand = Expand(copies, Seq(v, AttributeReference("c", LongType)()), l)
    assert(LocalEvalRule(expand) eq expand)
    // under the bound, the same expansion folds
    val two = local(1, 2)
    val small = Expand((0 until 9).map(i => Seq(two.output.head, Literal(i.toLong))),
      expand.output.map(_.newInstance()), two)
    assert(LocalEvalRule(small).asInstanceOf[LocalRelation].data.length == 18)
  }

  test("a keyless join over the pair bound is left to Spark; with keys it folds") {
    val side = math.sqrt(LocalEvalRule.MaxRows.toDouble).toLong + 1
    val (l, r) = (local((0L until side): _*), local((0L until side): _*))
    val (lv, rv) = (l.output.head, r.output.head)
    val keyless = Join(l, r, Inner, Some(LessThan(Add(lv, Literal(0L)), Subtract(rv, Literal(side)))),
      JoinHint.NONE)
    assert(LocalEvalRule(keyless) eq keyless)
    val keyed = Join(l, r, LeftSemi, Some(EqualTo(lv, rv)), JoinHint.NONE)
    assert(LocalEvalRule(keyed).asInstanceOf[LocalRelation].data.length == side)
  }
}
