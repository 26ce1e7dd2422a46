package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared parquet-write helpers for the persisted-index operators. */
object TableWrite {

  /** Parquet write that always leaves a schema-carrying file, even
    * for a zero-row table: one explicit empty partition is unioned
    * in, and an empty-partition task still writes a footer with the
    * schema — so a read-back of a fresh/empty index never fails
    * schema inference. Used by [[Dedup.writeMinhashIndex]] and
    * [[AnnIndex]].
    */
  def withSchemaAnchor(df: DataFrame, path: String,
                       mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    val anchor = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
      df.schema)
    df.union(anchor).write.mode(mode).parquet(path)
  }

  /** A scratch directory that a JVM shutdown hook deletes
    * recursively — for bench/verify queries that must materialize a
    * side artifact (e.g. a signature index) per execution without
    * accumulating orphaned trees across a multi-sweep run.
    */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(dir) catch { case _: Throwable => () }
    }
    dir.toString
  }
}
