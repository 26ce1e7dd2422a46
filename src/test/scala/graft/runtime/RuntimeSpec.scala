package graft.runtime

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.PipelineCompiler.PipelineNode
import graft.ingest.{Ingest, OvertureFixtures}
import graft.session.{LoadHistory, SessionState}

class RuntimeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val dir = graft.TempDir("graft_rt").toString
    OvertureFixtures.write(s, dir, n = 60, files = 2)
    Ingest.loadTheme(s, dir, "places/place")
    s
  }

  test("session state round-trips, upserts, deletes, survives reload") {
    val dir = graft.TempDir("graft_sess").toString
    val st = new SessionState(spark, dir)
    st.set("pipeline", """[{"id":"p1"}]""")
    st.set("pipelineSearch", "cafe")
    st.set("pipelineSearch", "bar") // upsert
    st.set("bad", "not valid json{{{")
    assert(st.get("pipelineSearch").contains("bar"))
    st.delete("pipeline")
    assert(st.get("pipeline").isEmpty)

    st.sync() // flush the debounced buffer before handing the dir over
    val st2 = new SessionState(spark, dir) // fresh load from disk
    assert(st2.get("pipelineSearch").contains("bar"))
    // corrupt entries skipped by parsed load
    val parsed = st2.loadParsed { v => if (v.contains("{{{")) throw new Exception("bad") else v }
    assert(!parsed.contains("bad") && parsed.contains("pipelineSearch"))
  }

  test("session state debounces: burst of sets → one deferred flush, sync forces it") {
    val dir = graft.TempDir("graft_sess_db").toString
    val st = new SessionState(spark, dir)
    (1 to 5).foreach(i => st.set(s"k$i", s"v$i"))
    // nothing on disk yet — mutations buffer for the debounce window
    assert(new SessionState(spark, dir).all.isEmpty)
    st.sync()
    assert(new SessionState(spark, dir).all.size == 5)
    // the deferred flush also lands on its own after the window
    st.set("late", "x")
    Thread.sleep(SessionState.DebounceMs + 300)
    assert(new SessionState(spark, dir).all.size == 6)
  }

  test("load history appends with timestamps") {
    val dir = graft.TempDir("graft_hist").toString
    LoadHistory.append(spark, dir, LoadHistory.Entry(
      "places/place", "local", "[-2,-1,2,1]", 33000, cached = false, 60, 2, 123))
    LoadHistory.append(spark, dir, LoadHistory.Entry(
      "buildings/building", "local", "", 33000, cached = true, 10, 2, 45))
    val df = LoadHistory.read(spark, dir)
    assert(df.count() == 2)
    assert(df.columns.contains("ts"))
  }

  test("load history: a driver-side append reads back with rows Spark wrote earlier") {
    import org.apache.spark.sql.functions.current_timestamp
    import org.apache.spark.sql.types.TimestampType
    import spark.implicits._
    val dir = graft.TempDir("graft_hist_mixed").toString
    // a row as earlier versions wrote it: a Spark parquet job, whose
    // default timestamp type is INT96
    Seq(LoadHistory.Entry("places/place", "old", "", 33000, cached = false, 60, 2, 123)).toDF()
      .withColumn("ts", current_timestamp())
      .write.mode("append").parquet(s"$dir/_load_history")
    LoadHistory.append(spark, dir, LoadHistory.Entry(
      "buildings/building", "new", "[-2,-1,2,1]", 500, cached = true, 10, 1, 45))
    val df = LoadHistory.read(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val rows = df.orderBy("release").collect()
    assert(rows.map(_.getAs[String]("release")).toSeq == Seq("new", "old"))
    assert(rows.map(_.getAs[Long]("row_count")).toSeq == Seq(10L, 60L))
    assert(rows.head.getAs[Boolean]("cached") && rows.head.getAs[Long]("lim") == 500L)
    // both stamps are real times, a few minutes apart at most
    val ts = rows.map(_.getAs[java.sql.Timestamp]("ts").getTime)
    assert(ts.forall(_ > 0) && math.abs(ts(0) - ts(1)) < 600000L)
    // the appended file is the driver writer's: INT64 TIMESTAMP(MICROS, UTC)
    val appended = new java.io.File(s"$dir/_load_history").listFiles().toSeq
      .map(_.getPath).filter(_.endsWith(".parquet"))
      .filterNot { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), new org.apache.hadoop.conf.Configuration()))
        try r.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType
          .getPrimitiveTypeName.name == "INT96"
        finally r.close()
      }
    assert(appended.size == 1)
  }

  test("query runner records ring with preview, duration, errors") {
    val r = new QueryRunner
    val out = r.run("q1", "SELECT 1")(42)
    assert(out == 42)
    intercept[RuntimeException] {
      r.run("q2", "SELECT broken FROM nowhere " + "x" * 300)(throw new RuntimeException("boom"))
    }
    val h = r.history
    assert(h.length == 2)
    assert(h.head.label == "q2" && !h.head.ok && h.head.error.contains("boom"))
    assert(h.head.sqlPreview.length <= 140)
    assert(h(1).ok && h(1).durationMs >= 0)
    assert(r.formatDuration(900) == "900ms")
    assert(r.formatDuration(2340) == "2.3s")
  }

  test("pipeline session: debounced reactive execution + memoization") {
    var runs = 0
    val sess = new PipelineSession(spark, debounceMs = 50,
      onResult = (_, _) => runs += 1)
    val src = PipelineNode("p1", "source", "", "places_place", "places/place")
    // rapid-fire updates collapse into one run
    sess.update(nodes = Seq(src), limit = 10)
    sess.update(nodes = Seq(src), limit = 20)
    sess.update(nodes = Seq(src), limit = 30)
    Thread.sleep(1500)
    assert(runs == 1, s"expected 1 debounced run, got $runs")
    // identical signature → memoized, no second run
    val df = sess.executeNow()
    assert(df.isDefined && runs == 1)
    // changed signature → new run
    sess.update(search = "cafe")
    Thread.sleep(1500)
    assert(runs == 2)
    sess.close()
  }

  test("pipeline session: concurrent update/executeNow never caches a stale result") {
    val sess = new PipelineSession(spark, debounceMs = 5)
    val src = PipelineNode("p1", "source", "", "places_place", "places/place")
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val t = new Thread(() => {
      var i = 0
      while (i < 40) {
        try sess.update(nodes = Seq(src),
          sqlOverride = Some(s"SELECT ${i % 7} AS v FROM places_place LIMIT 1"))
        catch { case _: Throwable => errors.incrementAndGet() }
        i += 1
      }
    })
    t.start()
    (0 until 40).foreach { _ =>
      try sess.executeNow() catch { case _: Throwable => errors.incrementAndGet() }
    }
    t.join()
    Thread.sleep(300)
    assert(errors.get() == 0)
    // quiesced: a final executeNow must reflect the FINAL override, not
    // any result cached under a stale signature mid-race
    sess.update(nodes = Seq(src), sqlOverride = Some("SELECT 99 AS v FROM places_place LIMIT 1"))
    val v = sess.executeNow().get.head().getInt(0)
    assert(v == 99, s"stale cached result surfaced: v=$v")
    sess.close()
  }

  test("pipeline session: a duckdb override resolves on a fresh child session") {
    // a child session starts with an empty temp-function registry and
    // no extra optimizer rules: `list_sum` resolves, and spatial
    // pipelines plan as grid joins, only because the constructor
    // prepared the session
    val fresh = spark.newSession()
    val sess = new PipelineSession(fresh, debounceMs = 10)
    assert(fresh.experimental.extraOptimizations.contains(graft.plans.GridJoinRule))
    sess.sqlDialect = "duckdb"
    sess.update(sqlOverride = Some("SELECT list_sum([1, 2, 3]) AS s"))
    assert(sess.executeNow().get.head().getLong(0) == 6L)
    sess.close()
  }

  test("pipeline session: sqlOverride replaces compiled SQL") {
    val sess = new PipelineSession(spark, debounceMs = 10)
    sess.update(
      nodes = Seq(PipelineNode("p1", "source", "", "places_place", "places/place")),
      sqlOverride = Some("SELECT COUNT(*) AS n FROM places_place"))
    val df = sess.executeNow()
    assert(df.get.columns.sameElements(Array("n")))
    sess.close()
  }
}
