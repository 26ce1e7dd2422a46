package graft.tools

import graft.plans.PlanGate

/** Detachable scale gate: executes every `SparkEntry.queries` entry on
  * a given SF dir, applies the PlanGate (same checks as
  * QueriesSmokeSpec), and prints one `[smokegate]` line per passing
  * query with its wall seconds plus a final JSON summary — the tool
  * the sf10 (100×) scale proof runs, where an sbt-bound test session
  * would hold the build lock for hours. A query that fails the plan
  * gate (`PLAN-FAIL`) or throws is logged as failed on stderr.
  *
  * `runMain graft.tools.SmokeGate <sfDir> [only,names]`
  */
object SmokeGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only = args.lift(1).map(Driver.names)
    val spark = graft.core.Engine.session()
    // shuffle partitions default to the core count (the local-mode
    // convention everywhere in this repo) but are overridable: at the
    // synthetic 100× scale a 32-partition shuffle of a 10⁸-pair stream
    // spills, which a real cluster (partitions ∝ executors) never sees
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    val statuses = Driver.run(spark, sfDir, "smokegate", only) { (name, query) =>
      val t0 = System.nanoTime()
      val df = query()
      val bad = if (PlanGate.intentionalLinearScan(name)) Nil else PlanGate.violations(df)
      if (bad.nonEmpty)
        throw new IllegalStateException(s"PLAN-FAIL: ${bad.head.linesIterator.next()}")
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[smokegate] $name pass $dt%.2f s")
      // drop this query's cached blocks first, so the collection
      // frees them before the next query allocates
      spark.catalog.clearCache(); System.gc()
      dt
    }
    val times = statuses.collect { case Driver.Status(n, Right(dt)) => n -> dt }
    val nFail = statuses.count(!_.ok)
    def fmt(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val qs = times.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    println(s"""{"gate":"smoke","sf":"$sfDir","pass":${times.size},"fail":$nFail,"total_s":${fmt(times.map(_._2).sum)},"queries":$qs}""")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
