package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory + base-table catalog for the graft engine.
  *
  * The engine is DataFrame/Catalyst-first: every operator is declared
  * through the public `org.apache.spark.sql` API so predicate pushdown,
  * column pruning, partition pruning and whole-stage codegen apply
  * without hand-scheduling. Designed for a multi-executor cluster;
  * tested on local[N].
  */
object Engine {

  /** The one session builder for the CLI mains: `local[cores]` with
    * shuffle partitions = cores (not the 200 default; on a real
    * cluster AQE coalesces post-shuffle partitions anyway), UTC, no UI,
    * WARN logging, and the engine's functions and optimizer rules
    * registered ([[prepare]]).
    */
  def session(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
  }

  /** `SPARK_GRAFT_CPUS` if set, else the machine's processors. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Sessions [[prepare]] has run on, held weakly so a dropped session
    * can still be collected. `SparkSession` keeps object identity for
    * equality, so a `newSession()` child is a different key and is
    * prepared on its own.
    */
  private val prepared = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Register graft SQL functions and the engine's optimizer rules
    * ([[graft.plans.GridJoinRule]], then [[graft.plans.LocalEvalRule]]) on
    * any session, including one built outside [[session]]. Runs once
    * per session; later calls return at once.
    */
  def prepare(spark: SparkSession): SparkSession = prepared.synchronized {
    if (!prepared.containsKey(spark)) {
      graft.geo.GeoFunctions.register(spark)
      graft.functions.TextExpressions.register(spark)
      graft.functions.DuckFunctions.register(spark)
      // the one registration of the grid-join rewrite: every spatial
      // join (compiled pipelines and pasted SQL alike) relies on it;
      // the driver-side fold runs after it, so it sees the grid keys
      val rules = Seq(graft.plans.GridJoinRule, graft.plans.LocalEvalRule)
        .filterNot(spark.experimental.extraOptimizations.contains)
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ rules
      prepared.put(spark, java.lang.Boolean.TRUE)
    }
    spark
  }
}

/** The driver-provided synthetic tables (TESTDATA.md). One parquet file
  * per table under `<sfDir>/<name>.parquet`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  /** Register every base table as a temp view named after the table.
    * Idempotent; parquet footers only are read at registration time
    * (scans stay lazy), so this is cheap to call per-query.
    *
    * `events.ts` is exposed as a microsecond TIMESTAMP_NTZ regardless
    * of the on-disk physical type: TIMESTAMP(NANOS) parquet (which
    * Spark's vectorized reader rejects) is read as raw nanos via the
    * legacy conf and truncated to µs — the same truncation DuckDB
    * applies reading TIMESTAMP_NS into its µs TIMESTAMP — while µs
    * timestamp columns pass through with only the NTZ cast.
    */
  private val registeredDirs =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()

  def registerAll(spark: SparkSession, dir: String): Unit = {
    // memoized on the session's CURRENTLY-registered dir: repeated
    // registration costs footer reads + plan invalidation on every
    // query — measurable at the bench scale — but switching dirs MUST
    // re-register (a keep-forever set left the views pointing at the
    // previously-registered dir, which silently turned the
    // EmptyInputSpec zero-row sweep into a single-row sweep for every
    // query after the first)
    val key: Integer = System.identityHashCode(spark)
    if (dir == registeredDirs.get(key)) return
    Engine.prepare(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // suites share one session and some build it with AQE off; the
    // queries are written for AQE's runtime re-planning (skew join
    // splitting, dynamic coalescing)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    all.foreach { n =>
      if (new java.io.File(path(dir, n)).exists()) {
        val raw = df(spark, dir, n)
        val v =
          if (n == "events")
            raw.schema("ts").dataType match {
              case org.apache.spark.sql.types.LongType =>
                raw.withColumn("ts",
                  org.apache.spark.sql.functions.timestamp_micros(
                    org.apache.spark.sql.functions.expr("ts div 1000"))
                    .cast("timestamp_ntz"))
              case _ =>
                raw.withColumn("ts",
                  org.apache.spark.sql.functions.col("ts")
                    .cast("timestamp_ntz"))
            }
          else raw
        v.createOrReplaceTempView(n)
      }
    }
    registeredDirs.put(key, dir)
  }
}
