package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local scale-up synthesizer: unions N key-offset copies of every
  * base table from a source scale-factor dir into a larger one, for
  * proving the engine's plans and runtimes scale ~linearly without a
  * cluster (`runMain graft.tools.ScaleUp <src> <dst> [copies]`).
  *
  * Copy `c` offsets every join-key column by `c × stride` (strides
  * chosen above the largest key, per int width), so each copy is a
  * self-contained replica: FK relationships, group cardinalities and
  * per-key densities all scale ×N while per-group work stays constant.
  *
  * Three content columns get a per-copy deterministic rewrite so that
  * similarity structure also stays per-copy (naive duplication would
  * make every document a 10-way exact duplicate, every embedding a
  * 10-way cosine-1 twin and every part name a 10-way Jaro-Winkler-1
  * twin — quadratic pair blowup that says nothing about the plans):
  *   - documents.text: per-copy letter substitution (translate with a
  *     rotated common-letter alphabet) — length and within-copy dup
  *     structure preserved, shingles disjoint across copies;
  *   - part.p_name: the same substitution — within-copy fuzzy
  *     near-pairs preserved bijectively, cross-copy pairs scored far
  *     below any useful threshold;
  *   - embeddings.embedding: small per-copy angular perturbation.
  *
  * Geometry caveat, documented in SCALE.md: geo layers derive their
  * coordinates from keys mod small constants, so all copies share one
  * spatial extent — density, and therefore spatial-join PAIR counts,
  * grow ×N² by construction. Time-per-output-pair is the linearity
  * metric for those queries.
  */
object ScaleUp {

  private val Key32: Map[String, Seq[String]] = Map(
    "region"   -> Seq("r_regionkey"),
    "nation"   -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_nationkey"),
    "supplier" -> Seq("s_nationkey"))

  private val Key64: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val Stride32 = 1000000L
  private val Stride64 = 100000000L

  /** Common letters whose per-copy rotation rewrites document text.
    * Two disjoint letter sets rotated independently (c mod 12 and
    * c div 12 mod 10) keep the combined substitution injective for up
    * to 120 copies — a single 12-letter rotation would repeat at copy
    * 12, silently turning the 100-copy (sf10) synthesis into 8-way
    * exact-duplicate groups and a ×10⁴ cross-copy pair artifact.
    */
  private val SubAlpha  = "etaoinshrdlu"
  private val SubAlpha2 = "bcfgkmpvwy"

  private def copyOf(df: DataFrame, table: String, c: Int): DataFrame = {
    var out = df
    Key32.getOrElse(table, Nil).foreach { k =>
      out = out.withColumn(k, (col(k) + lit(c * Stride32)).cast("int"))
    }
    Key64.getOrElse(table, Nil).foreach { k =>
      out = out.withColumn(k, col(k) + lit(c * Stride64))
    }
    if ((table == "documents" || table == "part") && c > 0) {
      val r1 = c % SubAlpha.length
      val r2 = (c / SubAlpha.length) % SubAlpha2.length
      val to  = SubAlpha.drop(r1) + SubAlpha.take(r1)
      val to2 = SubAlpha2.drop(r2) + SubAlpha2.take(r2)
      val target = if (table == "documents") "text" else "p_name"
      out = out.withColumn(target,
        translate(translate(col(target), SubAlpha, to), SubAlpha2, to2))
    }
    if (table == "embeddings" && c > 0)
      // Per-copy deterministic sign pattern (element-wise ±1, i.e. a
      // reflection): within-copy dot products and norms are EXACTLY
      // preserved (similarity structure replicates per copy), while a
      // base vector's images in two copies disagree in sign on ~half
      // the dims, so cross-copy cosine collapses to O(1/√dims) — far
      // below any near-dup threshold. (The earlier additive
      // perturbation's amplitude grew with c and would have crushed
      // cosine structure for high copy numbers at 100 copies.)
      out = out.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x * when(pmod(hash(i, lit(c)), lit(2)) === 0, 1.0f).otherwise(-1.0f))
            .cast("float")))
    out
  }

  def scaleTable(df: DataFrame, table: String, copies: Int): DataFrame =
    (0 until copies).map(copyOf(df, table, _)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Engine.session()
    // events.ts is TIMESTAMP(NANOS): copy it through as raw int64
    // nanos (registerAll handles either representation)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    graft.core.Tables.all.foreach { t =>
      val in = graft.core.Tables.path(src, t)
      if (new java.io.File(in).exists()) {
        val scaled = scaleTable(spark.read.parquet(in), t, copies)
        scaled.write.mode("overwrite").parquet(graft.core.Tables.path(dst, t))
        println(s"[scaleup] $t -> ${copies}x")
      }
    }
    spark.stop()
  }
}
