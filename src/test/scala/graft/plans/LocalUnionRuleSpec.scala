package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** A `UNION ALL` of driver-held rows folds into one `LocalRelation`;
  * a distinct `UNION`, a by-name union and a union with any other
  * child are left as they are.
  */
class LocalUnionRuleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.Engine.prepare(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate())

  private def local(values: Long*): LocalRelation =
    LocalRelation(Seq(AttributeReference("v", LongType, nullable = false)()),
      values.map(v => InternalRow(v)))

  test("a UNION ALL of local relations becomes one local relation, rows in order") {
    val (a, b) = (local(1, 2), local(3))
    LocalUnionRule(Union(Seq(a, b))) match {
      case l: LocalRelation =>
        assert(l.output == a.output)
        assert(l.data.map(_.getLong(0)) == Seq(1L, 2L, 3L))
      case other => fail(s"not folded:\n$other")
    }
  }

  test("the projection and limit above a folded union fold on the driver too") {
    val u = Union(Seq(local(1, 2), local(3, 4)))
    val plan = GlobalLimit(org.apache.spark.sql.catalyst.expressions.Literal(3),
      LocalLimit(org.apache.spark.sql.catalyst.expressions.Literal(3), u))
    LocalUnionRule(plan) match {
      case l: LocalRelation => assert(l.data.map(_.getLong(0)) == Seq(1L, 2L, 3L))
      case other => fail(s"not folded:\n$other")
    }
  }

  test("a distinct UNION is left unchanged") {
    val u = Union(Seq(local(1, 2), local(2)))
    val distinct = Distinct(u)
    assert(LocalUnionRule(distinct) eq distinct)
    // after Spark's rewrite, a distinct union is a group-only aggregate
    val agg = Aggregate(u.output, u.output, u, None)
    assert(LocalUnionRule(agg) eq agg)
  }

  test("a by-name union and a union with a non-local child are left unchanged") {
    val byName = Union(Seq(local(1), local(2)), byName = true, allowMissingCol = false)
    assert(LocalUnionRule(byName) eq byName)
    val a = local(1)
    val mixed = Union(Seq(a, Range(0, 3, 1, Some(1), a.output.map(_.newInstance()), false)))
    assert(LocalUnionRule(mixed) eq mixed)
  }

  test("registered on prepared sessions: SQL over local data plans one local scan") {
    import spark.implicits._
    Seq(1L, 2L).toDF("v").createOrReplaceTempView("_lur_a")
    Seq(3L).toDF("v").createOrReplaceTempView("_lur_b")
    val all = spark.sql("SELECT v + 1 AS w FROM _lur_a UNION ALL SELECT v + 1 FROM _lur_b")
    assert(all.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      all.queryExecution.optimizedPlan.toString)
    assert(all.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
    val distinct = spark.sql("SELECT v FROM _lur_a UNION SELECT v FROM _lur_b")
    assert(distinct.queryExecution.optimizedPlan.collectFirst { case u: Union => u }.nonEmpty)
    assert(distinct.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    spark.catalog.dropTempView("_lur_a")
    spark.catalog.dropTempView("_lur_b")
  }
}
