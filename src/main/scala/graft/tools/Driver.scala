package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query runner behind the CLI mains (Bench, Verify,
  * SmokeGate, StageProfile, Explain). It selects the rows, warms the
  * session up once, hands each row to the main's own action, clears
  * the cache after it and records an ok/failed status per row. A main
  * keeps only its filter source and its per-row action.
  */
object Driver {

  type Query = (SparkSession, String) => DataFrame

  /** One row's outcome: the action's value, or the error it threw. */
  final case class Status[A](name: String, result: Either[Throwable, A]) {
    def ok: Boolean = result.isRight

    /** `<Class>: <message>` of the error, if the row failed. */
    def error: Option[String] = result.left.toOption.map(_.toString)
  }

  /** Names from a comma-separated filter; blanks are dropped. */
  def names(csv: String): Set[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** The rows `only` selects (all when `None`), sorted by name. A name
    * in `only` that is not a row throws IllegalArgumentException: a
    * typo would otherwise run nothing and report success.
    */
  def select(only: Option[Set[String]], queries: Map[String, Query]): Seq[String] = {
    val unknown = only.getOrElse(Set.empty) -- queries.keySet
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  /** Runs `action` on each row [[select]] picks, in name order, and
    * returns one status per row. `action` gets the row's name and a
    * builder of its DataFrame. Before the first row the tables and geo
    * views under `sfDir` are registered and one scan runs, so JVM,
    * codegen and session start-up land outside every row. A failing
    * row logs `[<tag>] <name> failed: <Class>: <message>` on stderr and
    * the next row still runs.
    */
  def run[A](spark: SparkSession, sfDir: String, tag: String, only: Option[Set[String]],
             queries: Map[String, Query] = graft.SparkEntry.queries)(
      action: (String, () => DataFrame) => A): Seq[Status[A]] = {
    val selected = select(only, queries)
    graft.queries.GeoViews.register(spark, sfDir) // registers the base tables first
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()
    selected.map { name =>
      val status = Status(name,
        try Right(action(name, () => queries(name)(spark, sfDir)))
        catch { case e: Throwable => Left(e) })
      // intra-query caches (LSH signatures, shingle rows) are
      // single-use: dropping them keeps the heap flat across rows
      spark.catalog.clearCache()
      status.error.foreach(e => System.err.println(s"[$tag] $name failed: $e"))
      status
    }
  }

  /** A JSON string literal. Escapes quote, backslash and every control
    * char: a tab or CR in builder-authored SQL would otherwise make a
    * consumer's JSON parse fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
