package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Skew stress for the de-broadcast fuzzy operator (VERDICT r5 #1):
  * corporate corpora concentrate on a handful of name prefixes, so the
  * 2-char blocking key is the obvious hot key. This suite builds a
  * pathological fixture (85% of names behind ONE block key) and
  * proves, with broadcasts disabled so the scale-relevant shuffle path
  * runs, that
  *   1. the plain equi-join funnels the hot block's quadratic pairwise
  *      work through one task (the skew being guarded against), and
  *   2. `saltFactor` splits that work across tasks, bounding per-task
  *      CPU, row-identical to the unsalted result.
  * CPU time (not shuffle records) is the metric: a self-join's salted
  * small side is replicated `factor` ways, so records barely move
  * while the quadratic JW work — the actual cost — splits `factor`
  * ways.
  */
class FuzzySkewSpec extends AnyFunSuite {

  private val HotRows  = 2500L
  private val ColdRows = 500L
  private val Factor   = 8

  // the suite's SQL confs live on a child session: `getOrCreate` would
  // apply them to the session every suite shares
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    // force the shuffle join path — at corpus scale neither side
    // broadcasts; AQE off so nothing re-splits the hot key for us and
    // the contrast is the operator's own doing
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** 85% of names share the block key 'ac'. Bulk rows get md5 tails
    * (mutually dissimilar, JW ~0.6 — candidate work without
    * survivors); ids < 100 form a planted near-dup family whose pairs
    * survive the 0.9 threshold, so result equality is meaningful.
    * Deterministic column arithmetic only.
    */
  private lazy val names: DataFrame = {
    val df = spark.range(HotRows + ColdRows).selectExpr(
      "id",
      s"""CASE
         |  WHEN id < 100 THEN concat('acme global partners ',
         |    CAST(id % 50 AS STRING), IF(id < 50, 'x', 'y'))
         |  WHEN id < $HotRows THEN concat('ac', md5(CAST(id AS STRING)))
         |  ELSE md5(concat('cold', CAST(id AS STRING)))
         |END AS name""".stripMargin)
    df.persist()
    df.count()
    df
  }

  /** Runs `body` recording per-task executor CPU nanos of the
    * heaviest stage (by summed CPU) — the stage doing the pairwise
    * kernel work.
    */
  private def withTaskCpu[T](body: => T): (T, Seq[Long]) = {
    val perStage = mutable.Map.empty[Int, mutable.Buffer[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = perStage.synchronized {
        Option(t.taskMetrics).foreach { m =>
          perStage.getOrElseUpdate(t.stageId, mutable.Buffer.empty) += m.executorCpuTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var last = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        val now = perStage.synchronized(perStage.values.map(_.size).sum)
        if (now == last) same += 1 else { same = 0; last = now }
      }
      val hotStage = perStage.synchronized {
        perStage.values.maxByOption(_.sum).map(_.toSeq).getOrElse(Seq(0L))
      }
      (out, hotStage)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("saltFactor bounds the hot block's per-task pairwise CPU, row-identically") {
    val plain = Dedup.fuzzyNamePairs(names, "id", "name", threshold = 0.9)
    val (plainRows, plainCpu) = withTaskCpu(plain.collect())
    assert(plainRows.nonEmpty, "planted near-dup family produced no pairs")

    // the fixture is skewed by construction: one task carries the
    // overwhelming share of the stage's kernel CPU
    val plainMax = plainCpu.max
    assert(plainMax > plainCpu.sum / 2,
      s"fixture is not skewed enough: max task CPU $plainMax of ${plainCpu.sum} " +
        s"(profile: ${plainCpu.sortBy(-_).take(6).mkString(",")})")

    val salted = Dedup.fuzzyNamePairs(names, "id", "name", threshold = 0.9,
      saltFactor = Factor)
    val (saltedRows, saltedCpu) = withTaskCpu(salted.collect())

    // row-identical: the salt always matches exactly one replica
    assert(saltedRows.map(_.toString).sorted.toSeq ==
      plainRows.map(_.toString).sorted.toSeq)

    // each (hot block, salt) stream carries ~1/Factor of the pairwise
    // work; hash collisions may co-locate a few streams but never
    // rebuild the unsplit hot key. /2 (not /Factor) keeps the bound
    // robust to scheduling noise while still failing any unsplit plan.
    val saltedMax = saltedCpu.max
    assert(saltedMax < plainMax / 2,
      s"salting did not bound the hot task: max CPU $saltedMax vs unsalted $plainMax " +
        s"(profile: ${saltedCpu.sortBy(-_).take(8).mkString(",")})")
  }
}
