package graft.tools

/** Plan-inspection utility: prints the formatted physical plan for the
  * named SparkEntry queries against a test-data dir. Dev aid only —
  * `runMain graft.tools.Explain [<query>[,<query>...]] [sfDir]`
  * (no names: every query).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(Driver.names)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Engine.session()
    Driver.run(spark, sfDir, "explain", only) { (n, query) =>
      println(s"\n========== $n ==========")
      query().explain("formatted")
    }
    spark.stop()
  }
}
