package graft
import graft.tools.Driver
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Engine.session()
    // optional comma-separated name filter for targeted gate checks
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(Driver.names)
    // a failed row writes no directory; the compare then lacks it
    Driver.run(spark, sfDir, "verify", only) { (name, query) =>
      query().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Driver.jsonString(k)}: ${Driver.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
