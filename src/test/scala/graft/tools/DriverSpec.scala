package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** The CLI mains' query runner over a fake query map: per-row status,
  * selection, and rejection of unknown filter names.
  */
class DriverSpec extends AnyFunSuite {

  // the suites share one session; this spec runs on a child session
  // (own confs and temp views) so the warm-up's registrations stay here
  private lazy val shared: SparkSession = SparkSession.getDefaultSession.getOrElse(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
  private lazy val spark: SparkSession = shared.newSession()

  private val dir = "/root/testdata/sf0.001"

  private def rows(n: Int): Driver.Query = (s, _) => s.range(n).toDF("x")

  test("a throwing query is reported as failed and the queries after it still run") {
    val sharedConfs = shared.conf.getAll
    val fake = ListMap[String, Driver.Query](
      "c_after" -> rows(2),
      "a_first" -> rows(3),
      "b_throws" -> ((_, _) => throw new IllegalStateException("boom")))
    val ran = ArrayBuffer.empty[String]
    val statuses = Driver.run(spark, dir, "spec", None, fake) { (name, query) =>
      ran += name
      query().count()
    }
    assert(ran == Seq("a_first", "b_throws", "c_after"))
    assert(statuses.map(_.name) == Seq("a_first", "b_throws", "c_after"))
    assert(statuses.map(_.ok) == Seq(true, false, true))
    assert(statuses.head.result == Right(3L) && statuses(2).result == Right(2L))
    assert(statuses(1).result.left.exists(_.isInstanceOf[IllegalStateException]))
    assert(statuses(1).error.contains("java.lang.IllegalStateException: boom"))
    assert(shared.conf.getAll == sharedConfs)
  }

  test("an unknown filter name throws before any query body runs") {
    var bodies = 0
    val counted: Driver.Query = (s, _) => { bodies += 1; s.range(1).toDF("x") }
    val fake = Map[String, Driver.Query]("a" -> counted, "b" -> counted)
    val e = intercept[IllegalArgumentException] {
      Driver.run(spark, dir, "spec", Some(Set("a", "no_such_row")), fake) { (_, query) =>
        query().count()
      }
    }
    assert(e.getMessage == "unknown query name(s): no_such_row")
    assert(bodies == 0)
  }

  test("selection is sorted and filtered, as Bench selected before the runner") {
    val fake = ListMap[String, Driver.Query]("b" -> rows(1), "c" -> rows(1), "a" -> rows(1))
    assert(Driver.select(None, fake) == Seq("a", "b", "c"))
    assert(Driver.select(Some(Set("c", "a")), fake) == Seq("a", "c"))
    assert(Driver.select(Some(Driver.names(" c, ,a ")), fake) == Seq("a", "c"))
    // the loop Bench carried before the runner, over the real inventory
    def benchBefore(only: Option[Set[String]]): Seq[String] =
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }.map(_._1)
    val two = Some(Set("q3_join_agg", "q1_pricing_summary"))
    assert(Driver.select(two, graft.SparkEntry.queries) == benchBefore(two))
    assert(Driver.select(None, graft.SparkEntry.queries) == benchBefore(None))
  }
}
