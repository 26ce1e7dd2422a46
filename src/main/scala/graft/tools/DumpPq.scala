package graft.tools

import org.apache.spark.sql.functions._

/** Scratch: print the deterministic PQ codebook trained on the given
  * sf dir (dims=64, m=4, k=4, iters=2), rounded to 6 dp, as Scala
  * literal rows for ops.PqFixture. Run once; values are pasted into
  * the fixture. Delete after use (or keep — it documents provenance).
  */
object DumpPq {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Engine.session()
    graft.core.Tables.registerAll(spark, sfDir)
    val cb = graft.ops.Similarity.trainPqCodebooks(
      spark.table("embeddings"), "vec_id", "embedding",
      dims = 64, m = 4, k = 4, iters = 2)
    cb.select(col("sub"), col("cent_id"),
        transform(col("centroid"), v => round(v, 6)).as("cv"))
      .orderBy("sub", "cent_id")
      .collect()
      .foreach { r =>
        val vs = r.getSeq[Double](2).map(v => if (v == v.toLong) s"${v.toLong}.0" else v.toString)
        println(s"""    (${r.getLong(0)}, ${r.getLong(1)}, Seq(${vs.mkString(", ")})),""")
      }
    spark.stop()
  }
}
