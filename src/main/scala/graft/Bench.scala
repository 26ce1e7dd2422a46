package graft
import graft.tools.Driver
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // cores default to the machine's (the driver contract is local[32]
    // on a 32-way host) — a small fixed default would silently bench
    // at a fraction of the available parallelism
    val spark = graft.core.Engine.session()
    // the bounded planning windows (#keys epoch plans, curriculum
    // offsets, AUC rank — all intentionally unpartitioned over tiny
    // tables) each emit a "No Partition Defined" WARN that floods the
    // bench tail and buries any warning that IS corpus-sized. Scoped
    // to the bench JVM only: tests keep the warning, so a genuinely
    // unpartitioned corpus-sized window still surfaces in CI.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    // best-of-N steady-state timing (default 2): the first pass pays
    // JIT/codegen-cache warmup and GC debt from the previous query,
    // the min reflects the query's actual cost — declared in the JSON
    // ("runs"/"agg") so the measurement is transparent
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // optional comma-separated name filter for iterating on one query
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(Driver.names)
    // a query that throws is reported under "failed", never timed
    val statuses = Driver.run(spark, sfDir, "bench", only) { (_, query) =>
      (0 until runs).map { _ =>
        val t0 = System.nanoTime()
        // noop sink, not count(): count() lets the optimizer prune
        // every projection of a map-only query (a text-kernel query
        // would time as a bare row count), while the noop write
        // materializes all output columns — the same work DuckDB's
        // fetchall pays in the oracle baseline.
        query().write.format("noop").mode("overwrite").save()
        val d = (System.nanoTime() - t0) / 1e9
        // intra-query caches (LSH signatures, shingle rows) are
        // single-use, and the next run must not read this run's. The
        // periodic GC nudge lets ContextCleaner release dead broadcast
        // blocks so no later query pays a full GC for earlier garbage.
        spark.catalog.clearCache()
        // only heavy queries produce enough garbage (broadcasts,
        // cached signatures) to warrant a collection; a GC after every
        // trivial query just adds floor latency
        if (d > 1.0) System.gc()
        d
      }.min
    }
    val results = statuses.collect { case Driver.Status(n, Right(d)) => n -> d }
    val failed = statuses.flatMap(s => s.error.map(e =>
      Driver.jsonString(s.name) + ":" + Driver.jsonString(e))).mkString("{", ",", "}")
    // 4 decimals keeps the JSON line short (~2 KB) so a tail-limited
    // log capture can't truncate it mid-line
    def fmt(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // host-drift anchor: the untouched-TPC-H rows' ratio against the
    // committed prior-round minima (ANCHORS.json in the working dir).
    // Identical code + identical data ⇒ any ratio ≠ 1 is ambient host
    // drift — round-over-round comparisons cite this number instead
    // of deriving it by hand (geometric mean over available anchors;
    // null when the file or the anchor rows are absent from this run).
    val anchorNames = Seq("q1_pricing_summary", "q3_join_agg")
    val anchorsNow = results.filter { case (n, _) => anchorNames.contains(n) }
    val anchorRef: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("ANCHORS.json")), "UTF-8")
        "\"([^\"]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val drifts = anchorsNow.collect {
      case (n, v) if anchorRef.get(n).exists(_ > 0) => v / anchorRef(n)
    }
    val anchorDrift =
      if (drifts.isEmpty) "null"
      else fmt(math.exp(drifts.map(math.log).sum / drifts.size))
    val anchorJson = anchorsNow
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val outPath = java.nio.file.Paths.get("bench_out.json").toAbsolutePath.toString
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"agg":"min","anchor_drift":$anchorDrift,"anchors":$anchorJson,"queries":$qs,"sf":"$sfDir","failed":$failed}"""
    // the driver's log capture keeps only the TAIL of stdout; at 122
    // queries the full per-query map (~3 KB) gets truncated from the
    // front and fails to parse. So: full map → bench_out.json (the
    // ABSOLUTE path below, so any consumer can recompute every
    // headline from all per-query times), and the LAST stdout line is
    // a short (<500 B) summary that always survives a tail capture —
    // the 10 slowest queries inline, the rest in the file.
    val slow = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val summary = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"agg":"min","n_queries":${results.size},"anchor_drift":$anchorDrift,"queries":$slow,"queries_file":"$outPath","sf":"$sfDir"}"""
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    println(summary)
    System.out.flush()
  }
}
