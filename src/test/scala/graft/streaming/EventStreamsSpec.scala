package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the real Structured Streaming path (readStream → window
  * agg → memory sink) and the stateful sessionizer, checking both
  * against their batch equivalents on the same data.
  */
class EventStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  private val dir = "/root/testdata/sf0.001"

  private def eventsBatch = {
    graft.core.Tables.registerAll(spark, dir)
    spark.table("events")
  }

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  // the streams below read one file per micro-batch, so a multi-file
  // directory exercises the operators' cross-batch state

  private def sessionStream(srcDir: String, name: String) = {
    import spark.implicits._
    Streams.toMemory(EventStreams.sessionizeWatermarked(
      EventStreams.events(spark, srcDir, Some("1 second"), Some(1))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreams.EventT],
      gapMinutes = 30).toDF(), name)
  }

  private def chainStream(srcDir: String, name: String, schema: StructType,
                          gramRow: DataFrame, budgetPerKey: Long) = {
    import spark.implicits._
    Streams.toMemory(CurationStreams.curateChain(
      Streams.files(spark, srcDir, schema, Some(1)).as[CurationStreams.DedupDoc],
      gramRow, budgetPerKey).toDF(), name)
  }

  private def budgetStream(srcDir: String, name: String, schema: StructType,
                           budgetPerKey: Long) = {
    import spark.implicits._
    Streams.toMemory(CurationStreams.tokenBudgetGate(
      Streams.files(spark, srcDir, schema, Some(1)).as[CurationStreams.BudgetDoc],
      budgetPerKey).toDF(), name)
  }

  /** MinHash near-dup dedup against the index `base/index` (initialized
    * empty when absent), survivors under `base/out`.
    */
  private def nearDupStream(srcDir: String, base: String, cp: String, schema: StructType) = {
    if (!graft.ops.IndexStore.exists(spark, s"$base/index"))
      graft.ops.Dedup.writeMinhashIndex(emptyOf(schema), "doc_id", "text",
        s"$base/index", 16, 3)
    Streams.exactlyOnce(Streams.files(spark, srcDir, schema, Some(1)),
        s"$base/out", cp) { (batch, id) =>
      graft.ops.Dedup.dedupIncrement(batch, "doc_id", "text", s"$base/index",
        k = 16, bands = 4, n = 3, threshold = 0.25, commitTag = Some(s"$id"))
    }
  }

  test("streaming tumbling agg equals batch tumbling agg") {
    // stream source needs plain parquet with the normalized schema —
    // write the batch view out once
    val src = graft.TempDir("graft_stream_src").toString
    eventsBatch.write.mode("overwrite").parquet(src)

    val q = Streams.toMemory(
      EventStreams.tumblingAgg(EventStreams.events(spark, src, Some("2 hours"))),
      "stream_tumbling", org.apache.spark.sql.streaming.OutputMode.Complete())
    q.awaitTermination(120000)

    val streamed = spark.table("stream_tumbling")
      .orderBy("window_start", "event_type").collect()
    // stream path casts ts to TIMESTAMP (watermark requirement) —
    // compare against batch on the same type
    val batch = EventStreams.tumblingAgg(
        eventsBatch.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp")))
      .orderBy("window_start", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s1, b1) => assert(s1 == b1) }
  }

  test("streaming stream-static asof equals the batch asof join") {
    import org.apache.spark.sql.functions._
    val src = graft.TempDir("graft_asof_src").toString
    eventsBatch.write.mode("overwrite").parquet(src)

    // sparse static checkpoints (hours with >= 2 events per user —
    // sf0.001 is too thin for a higher bar)
    val cp = eventsBatch
      .groupBy(col("user_id"),
        expr("timestamp_micros((unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) * 3600000000)")
          .as("cp_ts"))
      .agg(count(lit(1)).as("cp_n"))
      .where(col("cp_n") >= 2)
      .cache()

    val q = Streams.toMemory(
      EventStreams.asofAttach(EventStreams.events(spark, src), cp, Seq("user_id"), "cp_ts"),
      "stream_asof", org.apache.spark.sql.streaming.OutputMode.Update())
    q.awaitTermination(120000)
    val streamed = spark.table("stream_asof")
      .select(col("event_id"),
        unix_micros(col("cp_ts")).as("cp_us"), col("cp_n"))
      .orderBy("event_id").collect()

    val batch = graft.ops.AsofJoin.asof(
        eventsBatch.select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").as("ts")),
        cp, Seq("user_id"), "ts", "cp_ts")
      .select(col("event_id"), unix_micros(col("cp_ts")).as("cp_us"), col("cp_n"))
      .orderBy("event_id").collect()

    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s1, b1) => assert(s1 == b1) }
  }

  test("stateful sessionizer agrees with batch SQL sessionization") {
    import spark.implicits._
    val ev = eventsBatch
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]

    // batch flatMapGroupsWithState emits closed sessions; the SQL
    // version emits all. Compare on the closed prefix per user.
    val stateful = EventStreams.sessionize(ev).collect()
      .map(s => (s.user_id, s.session_id) -> ((s.n_events, s.start_ts, s.end_ts))).toMap
    val sql = EventStreams.sessionizeBatchComplete(ev).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
        ((r.getAs[Long]("n_events"), r.getAs[java.time.LocalDateTime]("start_ts"),
          r.getAs[java.time.LocalDateTime]("end_ts")))).toMap

    assert(stateful.nonEmpty)
    // every closed session from the stateful path matches SQL exactly
    stateful.foreach { case (k, v) =>
      assert(sql.contains(k), s"session $k missing from SQL result")
      assert(sql(k) == v, s"session $k: stateful $v vs sql ${sql(k)}")
    }
    // SQL has exactly one extra (open) session per user seen
    val users = sql.keys.map(_._1).toSet
    assert(sql.size == stateful.size + users.size)
  }

  test("watermarked sessionization replay equals batch sessionization") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window

    // three time-sliced files (two real halves + a far-future
    // watermark flush) processed one per micro-batch — a genuinely
    // multi-batch stateful run where sessions split across batches
    // and CLOSE via the event-time timeout, not a terminal flush
    val srcDir = graft.TempDir("graft_sess_src")
    val evdf = eventsBatch
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val ranked = evdf.withColumn("_rk",
      row_number().over(Window.orderBy(col("ts"), col("event_id"))))
    val n = ranked.count()
    val maxTs = evdf.agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
    val sentinel = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, maxTs.plusHours(1000), -1L, "flush", 0.0, "")),
      evdf.schema)
    val slices = Seq(
      ranked.where(col("_rk") <= n / 2).drop("_rk"),
      ranked.where(col("_rk") > n / 2).drop("_rk"),
      sentinel)
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = graft.TempDir(s"graft_sess_tmp$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = srcDir.resolve(f"slice$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      // modification time drives the file source's processing order
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    val q = sessionStream(srcDir.toString, "stream_sessions")
    q.awaitTermination(180000)

    val streamed = spark.table("stream_sessions")
      .where(col("user_id") >= 0) // the sentinel's own session is scaffolding
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts")).as("s_us"), unix_micros(col("end_ts")).as("e_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    import spark.implicits._
    val ev = eventsBatch
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    val batch = EventStreams.sessionizeBatchComplete(ev)
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts").cast("timestamp")).as("s_us"),
        unix_micros(col("end_ts").cast("timestamp")).as("e_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("watermarked sessionization drops sub-watermark late events") {
    import org.apache.spark.sql.functions._
    // four time-sliced files, one per micro-batch:
    //   0: user 1 on time (T0, T0+5m)        -> open session
    //   1: user 2 at T0+10h                  -> watermark jumps past user
    //      1's gap; the event-time timeout CLOSES the session at 2 events
    //   2: user 1 at T0+2m, 10h BELOW the watermark -> the stateful op's
    //      late-data filter must DROP it: it can neither extend the
    //      closed session nor open a new one (the documented trade of
    //      watermark-bounded state)
    //   3: far-future sentinel               -> flush remaining state
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    def row(id: Long, ts: java.time.LocalDateTime, user: Long) =
      org.apache.spark.sql.Row(id, ts, user, "e", 0.0, "")
    val slices = Seq(
      Seq(row(1, t0, 1L), row(2, t0.plusMinutes(5), 1L)),
      Seq(row(3, t0.plusHours(10), 2L)),
      Seq(row(4, t0.plusMinutes(2), 1L)),
      Seq(row(5, t0.plusHours(2000), -1L)))
    val srcDir = graft.TempDir("graft_sess_late")
    slices.zipWithIndex.foreach { case (rows, i) =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), EventStreams.eventSchema)
      val tmp = graft.TempDir(s"graft_late_tmp$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = srcDir.resolve(f"slice$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    val q = sessionStream(srcDir.toString, "stream_sessions_late")
    q.awaitTermination(180000)

    val user1 = spark.table("stream_sessions_late")
      .where(col("user_id") === 1L)
      .select("n_events").collect().map(_.getLong(0)).toSeq
    // exactly ONE user-1 session with exactly the 2 on-time events: the
    // sub-watermark event neither extended it (would read 3) nor opened
    // a second session (would read Seq(2, 1))
    assert(user1 == Seq(2L), s"user-1 sessions (n_events per session): $user1")
  }

  test("watermarked sessionization: a user returning after a timeout-closed session continues cumulative numbering") {
    import org.apache.spark.sql.functions._
    // four time-sliced files, one per micro-batch:
    //   0: user 1 at T0, T0+5m            -> open session
    //   1: user 2 at T0+10h               -> watermark jumps past user
    //      1's gap; the event-time timeout CLOSES session 0 and leaves
    //      the tombstone carrying the next seq
    //   2: user 1 ON TIME at T0+11h (+2m) -> must open session_id 1,
    //      not restart at 0 (the pre-tombstone bug: state.remove()
    //      discarded sessionSeq and the ids collided)
    //   3: far-future sentinel            -> flush remaining state
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    def row(id: Long, ts: java.time.LocalDateTime, user: Long) =
      org.apache.spark.sql.Row(id, ts, user, "e", 0.0, "")
    val slices = Seq(
      Seq(row(1, t0, 1L), row(2, t0.plusMinutes(5), 1L)),
      Seq(row(3, t0.plusHours(10), 2L)),
      Seq(row(4, t0.plusHours(11), 1L), row(5, t0.plusHours(11).plusMinutes(2), 1L)),
      Seq(row(6, t0.plusHours(2000), -1L)))
    val srcDir = graft.TempDir("graft_sess_return")
    slices.zipWithIndex.foreach { case (rows, i) =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), EventStreams.eventSchema)
      val tmp = graft.TempDir(s"graft_ret_tmp$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = srcDir.resolve(f"slice$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    val q = sessionStream(srcDir.toString, "stream_sessions_return")
    q.awaitTermination(180000)

    val streamed = spark.table("stream_sessions_return")
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts")).as("s_us"), unix_micros(col("end_ts")).as("e_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // user 1's two sessions carry DISTINCT cumulative ids 0 and 1
    val u1 = streamed.filter(_._1 == 1L).map(t => (t._2, t._3))
    assert(u1 == Set((0L, 2L), (1L, 2L)), s"user-1 (session_id, n_events): $u1")

    // and the full replay still equals the batch form on the same events
    import spark.implicits._
    val ev = spark.createDataFrame(
        java.util.Arrays.asList(slices.take(3).flatten: _*), EventStreams.eventSchema)
      .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value")
      .as[EventStreams.Event]
    val batch = EventStreams.sessionizeBatchComplete(ev)
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts").cast("timestamp")).as("s_us"),
        unix_micros(col("end_ts").cast("timestamp")).as("e_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed == batch,
      s"streamed $streamed vs batch $batch")
  }

  test("stream-stream interval join replay equals the batch join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // two live sides (even/odd event ids), each written as two
    // time-ordered slices processed one file per micro-batch — pairs
    // that straddle micro-batch boundaries must come out of buffered
    // join state, and the 2h watermark covers the 10min bound, so the
    // replay is lossless (the scaladoc's sizing contract)
    val ev = eventsBatch
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    def writeSlices(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      val srcDir = graft.TempDir(s"graft_ij_$tag")
      val ranked = df.withColumn("_rk",
        row_number().over(Window.orderBy(col("ts"), col("event_id"))))
      val n = ranked.count()
      Seq(ranked.where(col("_rk") <= n / 2), ranked.where(col("_rk") > n / 2))
        .map(_.drop("_rk")).zipWithIndex.foreach { case (s, i) =>
          val tmp = graft.TempDir(s"graft_ij_tmp_$tag$i")
          s.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = new java.io.File(tmp.toString).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dest = srcDir.resolve(f"slice$i%02d.parquet")
          java.nio.file.Files.move(part.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
      srcDir.toString
    }
    val leftDir = writeSlices(ev.where(col("event_id") % 2 === 0), "l")
    val rightDir = writeSlices(ev.where(col("event_id") % 2 === 1), "r")

    def side(dir: String) = EventStreams.events(spark, dir, Some("2 hours"), Some(1))
    val q = Streams.toMemory(
      EventStreams.intervalJoin(side(leftDir), side(rightDir), keys = Seq("user_id"),
        lower = "10 minutes", upper = "10 minutes"),
      "stream_interval_join")
    q.awaitTermination(180000)

    val streamed = spark.table("stream_interval_join")
      .select(col("user_id"), col("l_event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val evT = ev.withColumn("ts", col("ts").cast("timestamp"))
    val bl = evT.where(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id").as("l_event_id"), col("ts").as("l_ts"))
    val br = evT.where(col("event_id") % 2 === 1)
      .select(col("user_id").as("r_user_id"), col("event_id").as("r_event_id"),
        col("ts").as("r_ts"))
    val batch = bl.join(br,
        col("user_id") === col("r_user_id") &&
          col("r_ts") >= expr("l_ts - INTERVAL 10 minutes") &&
          col("r_ts") <= expr("l_ts + INTERVAL 10 minutes"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streamed.nonEmpty, "interval join produced no pairs")
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("streaming dedup drops within-watermark duplicates exactly once") {
    // an at-least-once source: every event written twice
    val src = graft.TempDir("graft_dedup_src").toString
    val base = eventsBatch.limit(500)
    base.write.mode("overwrite").parquet(src)
    base.write.mode("append").parquet(src)

    val q = Streams.toMemory(
      EventStreams.events(spark, src, Some("2 hours"))
        .dropDuplicatesWithinWatermark(Seq("event_id")),
      "stream_dedup")
    q.awaitTermination(120000)

    val out = spark.table("stream_dedup")
    assert(out.count() == base.count())
    assert(out.select("event_id").distinct().count() == base.count())
  }

  test("sliding windows double-count each event") {
    val n = eventsBatch.count()
    val winTotal = EventStreams.slidingAgg(eventsBatch)
      .agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0)
    assert(winTotal == 2 * n)
  }

  test("streaming curation (sample + quality gate + annotate) equals batch") {
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val src = graft.TempDir("graft_curate_src").toString
    docs.write.mode("overwrite").parquet(src)

    val q = Streams.toMemory(CurationStreams.curate(
      Streams.files(spark, src, docs.schema), fraction = 0.5, minTokens = 5), "stream_curate")
    q.awaitTermination(120000)

    val streamed = spark.table("stream_curate").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val batch = CurationStreams.curate(docs, 0.5, 5).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(batch.nonEmpty && batch.size < docs.count())
    assert(streamed == batch) // stateless stages → byte-identical results
  }

  test("streaming LM scoring against a trained model equals batch, tracks lmPerplexity") {
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val model = CurationStreams.trainUnigramModel(docs)
    val src = graft.TempDir("graft_score_src").toString
    docs.write.mode("overwrite").parquet(src)

    val q = Streams.toMemory(CurationStreams.scoreWithModel(
      Streams.files(spark, src, docs.schema), model), "stream_scored")
    q.awaitTermination(120000)

    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_nll"), r.getAs[Double]("ppl")))).toMap
    val streamed = keyed(spark.table("stream_scored").collect())
    val batch = keyed(CurationStreams.scoreWithModel(docs, model).collect())
    assert(batch.nonEmpty)
    assert(streamed == batch) // stateless scoring → byte-identical

    // self-scoring tracks the batch lmPerplexity operator (different
    // summation pipeline → tolerance, not equality)
    val ref = graft.ops.TextAnalysis.lmPerplexity(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_nll")).toMap
    batch.foreach { case (id, (n, nll, _)) =>
      if (n > 0) assert(math.abs(nll - ref(id)) < 2e-6, s"doc $id: $nll vs ${ref(id)}")
    }
  }

  test("streaming semantic decontamination equals batch (stateless plan-literal argmax)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    graft.core.Tables.registerAll(spark, dir)
    val emb = spark.table("embeddings")
    val bench = emb.where(col("vec_id") < 10)
    val corpus = emb.where(col("vec_id") >= 10)
    val src = graft.TempDir("graft_semdec_src").toString
    corpus.write.mode("overwrite").parquet(src)

    // the benchmark ships as plan literals, so the SAME call compiles
    // into an Append-mode stream — no join, no state store
    val stream = spark.readStream.schema(emb.schema).parquet(src)
    val q = graft.ops.Decontaminate
      .semanticOverlap(stream, bench, "vec_id", "embedding", threshold = 0.3)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_semdec")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("bench_id"), r.getAs[Double]("bench_cosine"),
          r.getAs[Boolean]("contaminated")))).toMap
    val streamed = keyed(spark.table("stream_semdec").collect())
    val batch = keyed(graft.ops.Decontaminate
      .semanticOverlap(corpus, bench, "vec_id", "embedding", threshold = 0.3).collect())
    assert(batch.nonEmpty && batch.exists(_._2._3) && batch.exists(!_._2._3))
    assert(streamed == batch) // stateless scoring → byte-identical
  }

  test("streaming BM25 scoring against a trained model equals batch") {
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val model = graft.ops.Retrieval.bm25Model(docs, "doc_id", "text",
      Seq("spark", "merge", "window"))
    val src = graft.TempDir("graft_bm25_src").toString
    docs.write.mode("overwrite").parquet(src)

    val q = Streams.toMemory(graft.ops.Retrieval.scoreWithBm25Model(
      Streams.files(spark, src, docs.schema), model), "stream_bm25")
    q.awaitTermination(120000)

    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("_score"), r.getAs[Boolean]("matched")))).toMap
    val streamed = keyed(spark.table("stream_bm25").collect())
    val batch = keyed(graft.ops.Retrieval.scoreWithBm25Model(docs, model).collect())
    assert(batch.nonEmpty && batch.exists(_._2._2))
    assert(streamed == batch) // stateless scoring → byte-identical
    // row set preserved: scoring annotates, never filters
    assert(batch.keySet == docs.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("LM vocabulary cap: beyond-cap terms score as unseen; batch stays streaming-identical") {
    import spark.implicits._
    // 'alpha' dominates, 'beta' second; cap=2 keeps exactly those
    val corpus = Seq(
      (1L, "alpha alpha alpha alpha beta beta beta"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha gamma")
    ).toDF("doc_id", "text")
    val full = CurationStreams.trainUnigramModel(corpus).head()
    val capped = CurationStreams.trainUnigramModel(corpus, maxVocab = 2).head()
    val fullMap = full.getAs[Map[String, Double]]("lp_map")
    val capMap = capped.getAs[Map[String, Double]]("lp_map")
    assert(fullMap.keySet == Set("alpha", "beta", "gamma", "delta"))
    assert(capMap.keySet == Set("alpha", "beta")) // top-2 by count
    // kept-term probabilities unchanged by pruning (totals stay full-vocab)
    assert(capMap("alpha") == fullMap("alpha") && capMap("beta") == fullMap("beta"))
    assert(capped.getAs[Double]("lp_unseen") == full.getAs[Double]("lp_unseen"))

    // a beyond-cap term now scores exactly lp_unseen
    val model = CurationStreams.trainUnigramModel(corpus, maxVocab = 2)
    val gammaOnly = Seq((9L, "gamma")).toDF("doc_id", "text")
    val row = CurationStreams.scoreWithModel(gammaOnly, model).head()
    // avg_nll is 6-dp rounded by the scorer → half-ulp tolerance
    assert(math.abs(row.getAs[Double]("avg_nll")
      - (-capped.getAs[Double]("lp_unseen"))) < 1e-6)

    // zero-token documents pass through annotated null, never dropped
    val empty = Seq((10L, ""), (11L, "!!!"), (12L, "alpha")).toDF("doc_id", "text")
    val out = CurationStreams.scoreWithModel(empty, model)
      .select("doc_id", "n_tokens", "avg_nll", "ppl").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(10L, 11L, 12L))
    assert(out(10L).isNullAt(2) && out(10L).isNullAt(3) && out(10L).getLong(1) == 0L)
    assert(out(11L).isNullAt(2) && out(11L).getLong(1) == 0L)
    assert(!out(12L).isNullAt(2))

    // batch ≡ streaming byte-identically AT the cap
    val src = graft.TempDir("graft_cap_src").toString
    corpus.write.mode("overwrite").parquet(src)
    val q = Streams.toMemory(CurationStreams.scoreWithModel(
      Streams.files(spark, src, corpus.schema), model), "stream_capped")
    q.awaitTermination(120000)
    def keyed2(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_nll"), r.getAs[Double]("ppl")))).toMap
    assert(keyed2(spark.table("stream_capped").collect())
      == keyed2(CurationStreams.scoreWithModel(corpus, model).collect()))
  }

  test("streaming decontamination equals the batch inverted-index join") {
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val bench = docs.where(org.apache.spark.sql.functions.col("source") === "src0")
    val corpus = docs.where(org.apache.spark.sql.functions.col("source") =!= "src0")
    val gramRow = graft.ops.Decontaminate.benchGramRow(bench, "text", n = 3)

    // the one-row-gram-set form matches the join form doc-for-doc
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated")))).toMap
    val viaJoin = keyed(graft.ops.Decontaminate.overlap(
      corpus, bench, "doc_id", "text", n = 3, minHits = 2).collect())
    val viaRow = keyed(graft.ops.Decontaminate.overlapWithGramRow(
      corpus, gramRow, "text", n = 3, minHits = 2).collect())
    assert(viaJoin.nonEmpty && viaRow == viaJoin)
    assert(viaJoin.values.exists(_._2)) // fixture plants real overlap

    // and the SAME projection runs as a stateless ingest stream
    val src = graft.TempDir("graft_decon_src").toString
    corpus.write.mode("overwrite").parquet(src)
    val q = Streams.toMemory(graft.ops.Decontaminate.overlapWithGramRow(
      Streams.files(spark, src, corpus.schema), gramRow, "text", n = 3, minHits = 2),
      "stream_decon")
    q.awaitTermination(120000)
    assert(keyed(spark.table("stream_decon").collect()) == viaJoin)
  }

  test("gopher filter runs unchanged on a stream, byte-identical to batch") {
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val src = graft.TempDir("graft_gopher_src").toString
    docs.write.mode("overwrite").parquet(src)

    // the filter is a stateless map-side projection, so the SAME
    // operator call compiles into a streaming plan with no changes
    val q = graft.ops.TextAnalysis.gopherFilter(
        spark.readStream.schema(docs.schema).parquet(src), "text")
      .writeStream.format("memory").queryName("stream_gopher")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") -> r.toSeq.tail).toMap
    val streamed = keyed(spark.table("stream_gopher").collect())
    val batch = keyed(
      graft.ops.TextAnalysis.gopherFilter(docs, "text").collect())
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful streaming exact dedup: first-seen wins across micro-batches, equals batch on the union") {
    import org.apache.spark.sql.functions.col
    val srcDir = graft.TempDir("graft_dedup_src").toString
    val mk = (rows: Seq[(Long, String, String)], name: String) => {
      import spark.implicits._
      rows.toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      // move the single part file into the watched dir under a stable name
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    // batch 1: texts A,B,C with a within-batch duplicate of A
    mk(Seq((1L, "alpha text", "s1"), (2L, "beta text", "s1"),
      (3L, "gamma text", "s2"), (4L, "alpha text", "s2")), "b1")
    // batch 2 (later ids): re-sends B and C, introduces D
    mk(Seq((6L, "beta text", "s2"), (7L, "delta text", "s1"),
      (8L, "gamma text", "s1")), "b2")

    val schema = spark.read.parquet(s"$srcDir/b1.parquet").schema
    import spark.implicits._
    val q = Streams.toMemory(CurationStreams.dedupExact(
      Streams.files(spark, srcDir, schema, Some(1)).as[CurationStreams.DedupDoc]).toDF(),
      "stream_dedup")
    q.awaitTermination(120000)

    val streamed = spark.table("stream_dedup").collect()
      .map(r => r.getAs[String]("text") -> r.getAs[Long]("doc_id")).toMap
    // one survivor per distinct text, min-id keeper (ids nondecreasing
    // across batches → identical to the batch op over the union)
    assert(streamed == Map("alpha text" -> 1L, "beta text" -> 2L,
      "gamma text" -> 3L, "delta text" -> 7L))
    val union = spark.read.parquet(s"$srcDir/b1.parquet", s"$srcDir/b2.parquet")
    val batch = graft.ops.Dedup.dropExactDuplicates(union, "doc_id", "text")
      .collect().map(r => r.getAs[String]("text") -> r.getAs[Long]("doc_id")).toMap
    assert(streamed == batch)
    // state bounded: one boolean per DISTINCT digest, so re-running the
    // dedup over a stream with heavy duplication emits no duplicates
    assert(spark.table("stream_dedup").select(col("text")).distinct().count() ==
      spark.table("stream_dedup").count())
  }

  test("composed streaming curation chain equals the batch composition (single batch, budget binding)") {
    import org.apache.spark.sql.functions._
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val bench = docs.where(col("source") === "src0")
    val corpus = docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text"), col("source"))
    val gramRow = graft.ops.Decontaminate.benchGramRow(bench, "text", 3)

    val srcDir = graft.TempDir("graft_chain1").toString
    corpus.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val q = chainStream(srcDir, "stream_chain1", corpus.schema, gramRow,
      budgetPerKey = 200L)
    q.awaitTermination(120000)
    val streamed = spark.table("stream_chain1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // the batch composition, stage by stage (pipeline_curate's shape
    // with the budget sampler as the terminal gate)
    val qual = corpus
      .withColumn("_r", graft.ops.TextAnalysis.repetitionStats(col("text")))
      .where(col("_r.n_tokens") >= 25 && col("_r.dup_word_frac") <= 0.55)
      .drop("_r")
    val deduped = graft.ops.Dedup.dropExactDuplicates(qual, "doc_id", "text")
    val clean = graft.ops.Decontaminate.drop(deduped, bench, "doc_id", "text",
      n = 3, minHits = 2)
    val batch = graft.ops.Sampling.sampleTokenBudget(
        clean.select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 200L, keyCols = Seq("source"))
      .select("doc_id", "source", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && batch.size < corpus.count(),
      "the budget must bind for the assertion to mean anything")
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("composed streaming curation chain: cross-batch dedup state holds over multi-file replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
    val bench = docs.where(col("source") === "src0")
    val corpus = docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text"), col("source"))
    val gramRow = graft.ops.Decontaminate.benchGramRow(bench, "text", 3)

    val mid = corpus.agg(avg(col("doc_id"))).head().getDouble(0).toLong
    val maxId = corpus.agg(max(col("doc_id"))).head().getLong(0)
    // slice 2 carries a SYNTHETIC cross-batch duplicate: a fresh id
    // replaying a slice-1 doc's text — the stream must drop it via
    // dedup state, exactly as batch min-id dedup over the union does
    val donor = corpus.where(col("doc_id") <= mid)
      .withColumn("_r", graft.ops.TextAnalysis.repetitionStats(col("text")))
      .where(col("_r.n_tokens") >= 25 && col("_r.dup_word_frac") <= 0.55)
      .orderBy(col("doc_id")).limit(1)
      .select(col("text"), col("source")).head()
    val synth = Seq((maxId + 1, donor.getString(0), donor.getString(1)))
      .toDF("doc_id", "text", "source")
    val slice1 = corpus.where(col("doc_id") <= mid)
    val slice2 = corpus.where(col("doc_id") > mid).union(synth)

    val srcDir = graft.TempDir("graft_chain2").toString
    Seq(slice1 -> "b1", slice2 -> "b2").foreach { case (df, name) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$srcDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + (if (name == "b1") 0 else 60000L)))
    }
    // budget non-binding: this slice isolates the cross-batch DEDUP
    // contract (the budget gate's own cross-batch spec covers spend)
    val q = chainStream(srcDir, "stream_chain2", corpus.schema, gramRow,
      budgetPerKey = 100000000L)
    q.awaitTermination(120000)
    val streamed = spark.table("stream_chain2").collect()
      .map(_.getLong(0)).toSet

    val union = slice1.union(slice2)
    val qual = union
      .withColumn("_r", graft.ops.TextAnalysis.repetitionStats(col("text")))
      .where(col("_r.n_tokens") >= 25 && col("_r.dup_word_frac") <= 0.55)
      .drop("_r")
    val deduped = graft.ops.Dedup.dropExactDuplicates(qual, "doc_id", "text")
    val batch = graft.ops.Decontaminate.drop(deduped, bench, "doc_id", "text",
        n = 3, minHits = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!streamed.contains(maxId + 1) && !batch.contains(maxId + 1),
      "the synthetic replay must be dropped by cross-batch dedup state")
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("incremental near-dup dedup stream: survivors equal the full-corpus batch dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.core.Tables.registerAll(spark, dir)
    val corpus = spark.table("documents")
      .select(col("doc_id"), col("text"), col("source"))
    val mid = corpus.agg(avg(col("doc_id"))).head().getDouble(0).toLong
    val maxId = corpus.agg(max(col("doc_id"))).head().getLong(0)
    // slice 2 carries a synthetic CROSS-BATCH near-duplicate: a fresh
    // id replaying a slice-1 text verbatim — only the persisted index
    // can drop it, the batch holds no other state
    val donor = corpus.where(col("doc_id") <= mid).orderBy(col("doc_id"))
      .limit(1).select(col("text"), col("source")).head()
    val synth = Seq((maxId + 1, donor.getString(0), donor.getString(1)))
      .toDF("doc_id", "text", "source")
    val slice1 = corpus.where(col("doc_id") <= mid)
    val slice2 = corpus.where(col("doc_id") > mid).union(synth)

    val srcDir = graft.TempDir("graft_incdedup").toString
    Seq(slice1 -> "b1", slice2 -> "b2").foreach { case (df, name) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$srcDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + (if (name == "b1") 0 else 60000L)))
    }
    val base = graft.TempDir("graft_incded_state").toString
    val q = nearDupStream(srcDir, base, s"$base/cp", corpus.schema)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$base/out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val union = slice1.union(slice2)
    val batch = graft.ops.Dedup.dropPairedDuplicates(union, "doc_id",
        graft.ops.Dedup.minhashLshPairs(union, "doc_id", "text",
          k = 16, bands = 4, n = 3, threshold = 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!streamed.contains(maxId + 1) && !batch.contains(maxId + 1),
      "the cross-batch replay must be dropped via the persisted index")
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // the index accumulated EVERY streamed doc's signature row —
    // dropped docs included (the min-id-wins completeness contract)
    assert(graft.ops.IncrementalIndex.Minhash.read(spark, s"$base/index").count() ==
      union.count())
  }

  test("incremental span-dedup stream: outputs equal the full-batch removal restricted per batch") {
    import org.apache.spark.sql.functions._
    graft.core.Tables.registerAll(spark, dir)
    val corpus = spark.table("documents")
      .select(col("doc_id"), col("text"), col("source"))
    val mid = corpus.agg(avg(col("doc_id"))).head().getDouble(0).toLong
    val slice1 = corpus.where(col("doc_id") <= mid)
    val slice2 = corpus.where(col("doc_id") > mid)

    val srcDir = graft.TempDir("graft_incspan").toString
    Seq(slice1 -> "b1", slice2 -> "b2").foreach { case (df, name) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$srcDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + (if (name == "b1") 0 else 60000L)))
    }
    val base = graft.TempDir("graft_incspan_state").toString
    graft.ops.Dedup.writeSpanGramIndex(emptyOf(corpus.schema), "doc_id", "text",
      s"$base/index", 5)
    val q = Streams.exactlyOnce(Streams.files(spark, srcDir, corpus.schema, Some(1)),
        s"$base/out", s"$base/cp") { (batch, id) =>
      graft.ops.Dedup.removeDuplicateSpansIncrement(batch, "doc_id", "text",
        s"$base/index", 5, commitTag = Some(s"$id"))
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // the sink is batchId-partitioned (exactly-once layout) — drop
    // the partition column to compare data rows
    val streamed = rows(spark.read.parquet(s"$base/out").drop("batch"))
    // batch 1 sees only itself; batch 2 sees the union — each equals
    // the batch removal over its visible corpus restricted to itself
    val b1 = graft.ops.Dedup.removeDuplicateSpans(slice1, "doc_id", "text", n = 5)
    val b2 = graft.ops.Dedup.removeDuplicateSpans(
        slice1.union(slice2), "doc_id", "text", n = 5)
      .where(col("doc_id") > mid)
    assert(streamed == rows(b1.union(b2)))
    assert(streamed.nonEmpty)
  }

  test("exactly-once sink: a forced batch replay leaves output AND index byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two file-batches with a cross-batch near-dup, deterministic
    // modification times so every run derives the same batch ids
    def words(d: Int, k: Int) = (0 until k).map(j => s"w${d}q$j").mkString(" ")
    val slice1 = (1L to 6L).map(i => (i, words(i.toInt, 12), "s"))
      .toDF("doc_id", "text", "source")
    val slice2 = ((11L to 14L).map(i => (i, words(i.toInt, 12), "s")) :+
      ((15L, words(1, 12), "s"))) // near-dup of doc 1 across batches
      .toDF("doc_id", "text", "source")
    val srcDir = graft.TempDir("graft_eo_src").toString
    Seq(slice1 -> "b1", slice2 -> "b2").foreach { case (df, name) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$srcDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + (if (name == "b1") 0 else 60000L)))
    }
    val base = graft.TempDir("graft_eo_state").toString
    val schema = slice1.schema
    def run(cp: String): Unit = {
      val q = nearDupStream(srcDir, base, cp, schema)
      q.awaitTermination(120000)
    }
    def outRows = spark.read.parquet(s"$base/out")
      .collect().map(_.toSeq).toSet // INCLUDING the batch column
    def idxRows = graft.ops.IncrementalIndex.Minhash.read(spark, s"$base/index")
      .collect().map(_.toSeq).toSet
    def idxCount = graft.ops.IncrementalIndex.Minhash.read(spark, s"$base/index").count()

    run(s"$base/cp1")
    val out1 = outRows
    val idx1 = idxRows
    assert(idxCount == 11, "one signature row per streamed doc, dropped dup included")
    assert(!out1.exists(_.head == 15L), "the cross-batch near-dup is dropped")

    // FULL replay from a fresh checkpoint (a restore-from-backup):
    // every batch re-fires with the same id, finds its _SUCCESS
    // marker and its index tags, and changes NOTHING
    run(s"$base/cp2")
    assert(outRows == out1 && idxRows == idx1 && idxCount == 11,
      "a fully-replayed stream must be a no-op")

    // PARTIAL-failure replay: batch 1 crashed between its index
    // append and its sink commit — its output directory is gone but
    // its signatures are already registered. The replay re-derives
    // the identical verdict (retry proof: a doc's own appended
    // signatures cannot drop it) and rewrites the output; the tagged
    // index append skips, so nothing double-registers.
    val b1dir = new java.io.File(s"$base/out/batch=1")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(b1dir)
    assert(outRows != out1, "precondition: batch 1's output is lost")
    run(s"$base/cp3")
    assert(outRows == out1 && idxRows == idx1 && idxCount == 11,
      "the replayed batch restores the exact output without double-appending")
  }

  test("stateful streaming token-budget gate: single batch equals the batch operator") {
    import org.apache.spark.sql.functions.col
    graft.core.Tables.registerAll(spark, dir)
    val docs = spark.table("documents")
      .withColumn("n_tokens",
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val srcDir = graft.TempDir("graft_budget_src").toString
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val q = budgetStream(srcDir, "stream_budget", docs.schema, budgetPerKey = 200L)
    q.awaitTermination(120000)

    val streamed = spark.table("stream_budget").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val batch = graft.ops.Sampling.sampleTokenBudget(
        docs, "doc_id", "n_tokens", budget = 200L, keyCols = Seq("source"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(batch.nonEmpty && batch.size < docs.count())
    assert(streamed == batch,
      "one-micro-batch stream must equal the batch token-budget sampler")
  }

  test("stateful streaming token-budget gate: budget persists across micro-batches") {
    import spark.implicits._
    val srcDir = graft.TempDir("graft_budget2_src").toString
    val mk = (rows: Seq[(Long, String, Long)], name: String) => {
      rows.toDF("doc_id", "source", "n_tokens")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/_stage_$name")
      val part = new java.io.File(s"$srcDir/_stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    // batch 1 exhausts source a's budget of 100 (first admitted doc
    // overshoots to 120); batch 2 re-offers a (must be rejected) and
    // introduces b (must be admitted)
    mk(Seq((1L, "a", 120L)), "b1")
    mk(Seq((2L, "a", 10L), (3L, "b", 50L)), "b2")
    val schema = spark.read.parquet(s"$srcDir/b1.parquet").schema
    val q = budgetStream(srcDir, "stream_budget2", schema, budgetPerKey = 100L)
    q.awaitTermination(120000)
    val got = spark.table("stream_budget2").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(1L, 3L),
      s"a's budget must be spent by batch 1 and survive into batch 2: $got")
  }
}
