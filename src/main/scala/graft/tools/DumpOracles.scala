package graft.tools

/** Print `SparkEntry.oracleSql` as JSON to stdout (optionally only
  * the comma-separated names in args(0)) — lets the DuckDB side of an
  * oracle be syntax-checked without starting a SparkSession.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(Driver.names)
    val sqls = graft.SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    println(sqls.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Driver.jsonString(k)}: ${Driver.jsonString(v)}" }
      .mkString("{", ",\n", "}"))
  }
}
