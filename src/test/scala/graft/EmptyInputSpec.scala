package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input sweep: every SparkEntry query must run (not
  * necessarily return rows) against ZERO-ROW copies of all base
  * tables. The driver's oracle only ever sees populated tables; a
  * library user's first empty partition/day/table should not crash an
  * operator (empty reduces, 0/0 scores, collect().head on trainers,
  * ...).
  */
class EmptyInputSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Parquet copies truncated to `rows` with the exact on-disk schemas
    * (events.ts stays the raw int64 nanos the reader contract
    * expects).
    */
  private def truncatedDir(rows: Int): String = {
    val dir = graft.TempDir(s"graft_rows$rows").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.core.Tables.all.foreach { t =>
      val src = s"/root/testdata/sf0.001/$t.parquet"
      if (new java.io.File(src).exists())
        spark.read.parquet(src).limit(rows)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  lazy val emptyDir: String  = truncatedDir(0)
  lazy val singleDir: String = truncatedDir(1)

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name tolerates empty inputs") {
      val n = fn(spark, emptyDir).count()
      assert(n >= 0)
    }
    // one row exercises a different edge class: windows over a single
    // row, trainers with k > n, self-joins with zero candidate pairs
    test(s"$name tolerates single-row inputs") {
      val n = fn(spark, singleDir).count()
      assert(n >= 0)
    }
  }
}
