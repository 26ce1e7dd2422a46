package graft.plans

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Salting

import scala.collection.mutable

/** Skew stress for the grid-join rewrite (SURVEY R8): at 100× scale
  * one dense 0.2° metro cell is the obvious hot key. This suite builds
  * a pathological fixture (85% of probe rows in a single cell) and
  * proves, with broadcasts disabled so the scale-relevant shuffle path
  * runs, that
  *   1. AQE's runtime skew-split engages on the hot cell (join marked
  *      skew=true, hot partition split across several tasks), and
  *   2. Salting.saltedEquiJoin composed over the same grid keys bounds
  *      per-task load even with AQE off entirely,
  * both row-identical to the broadcast ground truth — the reference's
  * pre-filter semantics (pipeline.js:129-132) are re-applied exactly.
  * AQE thresholds are scaled to fixture size (defaults are 256 MB; the
  * mechanism under test is identical).
  */
class GridJoinSkewSpec extends AnyFunSuite {

  private val HotRows = 170000L
  private val ColdRows = 30000L
  private val Factor = 16

  // the suite's SQL confs live on a child session: `getOrCreate` would
  // apply them to the session every suite shares
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // force the shuffle join path — at 100 TB neither side broadcasts
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k"
    ).foreach { case (k, v) => s.conf.set(k, v) }
    graft.core.Engine.prepare(s)
  }

  /** Probe side: HotRows points inside grid cell (0,0), ColdRows spread
    * over ~37 distant cells. Deterministic column arithmetic only.
    */
  private lazy val probe: DataFrame = {
    val a = spark.range(HotRows + ColdRows).selectExpr(
      "id",
      s"""CASE WHEN id < $HotRows
         |  THEN 0.02 + CAST(id % 97 AS DOUBLE) * 0.0015
         |  ELSE 10.0 + CAST(id % 37 AS DOUBLE) * 0.21 END AS centroid_lon""".stripMargin,
      s"""CASE WHEN id < $HotRows
         |  THEN 0.03 + CAST(id % 89 AS DOUBLE) * 0.0015
         |  ELSE 20.0 + CAST(id % 31 AS DOUBLE) * 0.23 END AS centroid_lat""".stripMargin)
    a.createOrReplaceTempView("skew_a")
    a
  }

  /** Matched side: 300 rows, 3 of them in the hot cell (bounds the
    * joined-pair explosion to 3 × HotRows through one reducer key).
    */
  private lazy val matched: DataFrame = {
    val b = spark.range(300).selectExpr(
      "id AS bid",
      """CASE WHEN id < 3 THEN 0.05 + CAST(id AS DOUBLE) * 0.01
        |  ELSE 10.0 + CAST(id % 37 AS DOUBLE) * 0.21 END AS centroid_lon""".stripMargin,
      """CASE WHEN id < 3 THEN 0.06 + CAST(id AS DOUBLE) * 0.01
        |  ELSE 20.0 + CAST(id % 31 AS DOUBLE) * 0.23 END AS centroid_lat""".stripMargin)
    b.createOrReplaceTempView("skew_b")
    b
  }

  private val preFlt =
    """ABS(a.centroid_lon - b.centroid_lon) < 0.2
      |AND ABS(a.centroid_lat - b.centroid_lat) < 0.2""".stripMargin

  /** Ground truth via broadcast hash join on the same grid keys —
    * correct at fixture scale, just not the plan that survives 100 TB.
    */
  private lazy val expectedCount: Long = {
    probe; matched
    spark.sql(
      s"""SELECT /*+ BROADCAST(b) */ a.id, b.bid
         |FROM skew_a a JOIN skew_b b
         |  ON $preFlt""".stripMargin).count()
  }

  /** Runs `body` while recording per-task shuffle-read record counts,
    * returning (result, per-task records of the heaviest reduce stage).
    */
  private def withTaskMetrics[T](body: => T): (T, Seq[Long]) = {
    val perStage = mutable.Map.empty[Int, mutable.Buffer[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = perStage.synchronized {
        Option(t.taskMetrics).foreach { m =>
          perStage.getOrElseUpdate(t.stageId, mutable.Buffer.empty) +=
            m.shuffleReadMetrics.recordsRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      // listener events are async — wait until the task stream quiesces
      var last = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        val now = perStage.synchronized(perStage.values.map(_.size).sum)
        if (now == last) same += 1 else { same = 0; last = now }
      }
      val reduceStage = perStage.synchronized {
        perStage.values.filter(_.sum > 0).maxByOption(_.sum)
          .map(_.toSeq).getOrElse(Seq(0L))
      }
      (out, reduceStage)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("AQE skew-split engages on the hot grid cell and preserves results") {
    probe; matched
    val df = spark.sql(
      s"""SELECT a.id, b.bid
         |FROM skew_a a JOIN skew_b b
         |  ON $preFlt""".stripMargin)
    // collect() (not count(), which plans its own QueryExecution) so
    // df.queryExecution is the one that ran and carries the final
    // adaptive plan
    val (rows, taskRecords) = withTaskMetrics(df.collect())
    assert(rows.length == expectedCount)

    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not mark the join skewed:\n${plan.take(3000)}")

    // the hot cell alone holds HotRows probe records; a split join must
    // spread them — no task may read anywhere near all of them
    val maxTask = taskRecords.max
    assert(maxTask < HotRows / 2,
      s"one task still reads $maxTask of the $HotRows hot-cell records " +
        s"(task profile: ${taskRecords.sortBy(-_).mkString(",")})")
  }

  test("salted grid join bounds per-task load with AQE off entirely") {
    probe; matched
    val prev = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      import org.apache.spark.sql.functions._
      val cellDeg = GridJoinRule.CellDeg
      val big = probe
        .withColumn("_gx", floor(col("centroid_lon") / cellDeg).cast("bigint"))
        .withColumn("_gy", floor(col("centroid_lat") / cellDeg).cast("bigint"))
      val small = matched
        .withColumnRenamed("centroid_lon", "b_lon")
        .withColumnRenamed("centroid_lat", "b_lat")
        .withColumn("dx", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("dy", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("_gx", floor(col("b_lon") / cellDeg).cast("bigint") + col("dx"))
        .withColumn("_gy", floor(col("b_lat") / cellDeg).cast("bigint") + col("dy"))
        .drop("dx", "dy")
      val exact = abs(col("centroid_lon") - col("b_lon")) < 0.2 &&
        abs(col("centroid_lat") - col("b_lat")) < 0.2

      // contrast: without salting the whole hot cell lands on one task
      val plain = big.join(small, Seq("_gx", "_gy")).where(exact).select("id", "bid")
      val (plainRows, plainTasks) = withTaskMetrics(plain.collect())
      assert(plainRows.length == expectedCount)
      assert(plainTasks.max > HotRows,
        s"fixture is not skewed enough: max unsalted task reads ${plainTasks.max}")

      val salted = Salting.saltedEquiJoin(big, small, Seq("_gx", "_gy"), Factor)
        .where(exact).select("id", "bid")
      val (rows, taskRecords) = withTaskMetrics(salted.collect())
      assert(rows.length == expectedCount)

      // each (hot cell, salt) stream carries ~HotRows/Factor probe rows;
      // hash collisions may co-locate a few streams but never rebuild
      // the unsplit hot key
      val maxTask = taskRecords.max
      assert(maxTask < HotRows / 4,
        s"salting did not bound the hot reducer: max task reads $maxTask records " +
          s"(expected ~${HotRows / Factor}, profile: ${taskRecords.sortBy(-_).take(8).mkString(",")})")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
