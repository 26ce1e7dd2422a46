package graft.runtime

import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.compile.PipelineCompiler
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.fts.FtsIndex

/** The reactive re-execution loop (reference:
  * src/lib/pipelineRunner.js:21-40,58-104): any state change →
  * debounce 300 ms → FTS presence probe → recompile → run; signature
  * memoization skips identical recomputes; `match_bm25`-style FTS
  * failures fall back to an FTS-less recompile (error-driven plan
  * fallback, R12).
  *
  * Driver-side orchestration only — the heavy lifting stays in Spark
  * jobs; nothing here touches executors. The constructor prepares
  * `spark` once ([[graft.core.Engine.prepare]]): the DuckDB-dialect
  * functions a shimmed override calls and the grid-join rule every
  * compiled spatial pipeline relies on.
  */
final class PipelineSession(
    spark: SparkSession,
    debounceMs: Long = 300,
    onResult: (DataFrame, Long) => Unit = (_, _) => ()) {

  graft.core.Engine.prepare(spark)

  @volatile var nodes: Seq[PipelineNode] = Seq.empty
  @volatile var search: String = ""
  @volatile var limit: Int = 3000
  @volatile var bbox: Option[(Double, Double, Double, Double)] = None
  @volatile var sqlOverride: Option[String] = None

  /** Dialect of `sqlOverride` text: "spark" (default) runs it verbatim;
    * "duckdb" rewrites it through DuckSqlShim first, so an override
    * pasted from a reference session runs unmodified.
    */
  @volatile var sqlDialect: String = "spark"

  val runner = new QueryRunner

  private val scheduler = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "pipeline-session"); t.setDaemon(true); t
  })
  private var pending: Option[ScheduledFuture[_]] = None
  private var lastSignature: String = ""
  @volatile private var lastResult: Option[DataFrame] = None

  private def signature(nodes: Seq[PipelineNode], search: String, limit: Int,
                        bbox: Option[(Double, Double, Double, Double)],
                        sqlOverride: Option[String]): String =
    Seq(nodes.mkString("|"), search, limit.toString, bbox.toString,
      sqlOverride.getOrElse(""), sqlDialect).mkString("\u0000")

  /** Mutate state and schedule a (debounced) re-run. */
  def update(
      nodes: Seq[PipelineNode] = this.nodes,
      search: String = this.search,
      limit: Int = this.limit,
      bbox: Option[(Double, Double, Double, Double)] = this.bbox,
      sqlOverride: Option[String] = this.sqlOverride): Unit = synchronized {
    this.nodes = nodes; this.search = search; this.limit = limit
    this.bbox = bbox; this.sqlOverride = sqlOverride
    pending.foreach(_.cancel(false))
    pending = Some(scheduler.schedule(
      new Runnable { def run(): Unit = executeNow() },
      debounceMs, TimeUnit.MILLISECONDS))
  }

  /** Synchronous execution (also the debounce target). State is
    * snapshotted once under the `update()` lock, and both the
    * signature and the compile inputs derive from that snapshot — a
    * concurrent `update()` can therefore never cache a result under a
    * stale signature.
    */
  def executeNow(): Option[DataFrame] = {
    val (sNodes, sSearch, sLimit, sBbox, sOverride) = synchronized {
      (nodes, search, limit, bbox, sqlOverride)
    }
    val sig = signature(sNodes, sSearch, sLimit, sBbox, sOverride)
    synchronized {
      if (sig == lastSignature && lastResult.isDefined) return lastResult // memoized
    }
    val t0 = System.currentTimeMillis()

    val ftsTables = sNodes.map(_.table).distinct
      .filter(t => t.nonEmpty && FtsIndex.hasIndex(spark, t)).toSet

    def compileWith(fts: Set[String]): String = sOverride
      .map(t => if (sqlDialect == "duckdb") graft.compile.DuckSqlShim.rewrite(t) else t)
      .getOrElse(
        PipelineCompiler.compile(sNodes,
          Options(search = sSearch, limit = sLimit, bbox = sBbox, ftsTables = fts,
            tableFields = PipelineCompiler.tableFields(spark, sNodes))))

    val sql = compileWith(ftsTables)
    if (sql.isEmpty) return None
    val df =
      try runner.run("pipeline", sql)(spark.sql(sql))
      catch {
        case _: Exception if ftsTables.nonEmpty && sOverride.isEmpty =>
          // FTS index broken/stale → recompile without FTS (R12)
          val fallback = compileWith(Set.empty)
          runner.run("pipeline-fallback", fallback)(spark.sql(fallback))
      }
    synchronized {
      lastSignature = sig
      lastResult = Some(df)
    }
    onResult(df, System.currentTimeMillis() - t0)
    Some(df)
  }

  def close(): Unit = scheduler.shutdownNow()
}
