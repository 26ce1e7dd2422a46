package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{Graft, SparkEntry}
import graft.compile.{DuckSqlShim, PipelineCompiler}
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.core.Tables
import graft.fts.{Bm25, FtsIndex}
import graft.ingest.{FileIndex, Ingest, OvertureFixtures}
import graft.model.ThemeMeta
import graft.ops.{AnnIndex, AppendBarrier, Concurrent, Decontaminate, Dedup, IndexStore, IngestPipeline, PqFixture}
import graft.queries.GeoViews
import graft.session.{LoadHistory, SessionState}

/** `explore`: one user's session of interactions over the geo views
  * and an Overture-shaped fixture directory — pipeline edits with
  * bounded fetches and session writes, searches, SQL-panel statements,
  * spatial joins and area loads. Every pass replays the same script
  * from the same loaded areas. SQL-panel statements and joins are
  * checked against DuckDB's digests; area loads and edits are checked
  * by perfbench/run.py after the run, with DuckDB over the fixture
  * files; searches and session writes against another path through
  * the program, computed the first time the op is seen in the run.
  */
final class Explore(run: Run) extends Workload {
  import Explore._
  private def spark = run.spark
  private val tables = Themes.map(ThemeMeta.tableName)
  private val panel = run.param("sql_panel").elements().asScala.map(_.asText).toVector
  private val joins = run.param("joins").elements().asScala.map(_.asText).toVector
  private val script = Explore.script(ScriptSeed, run.param("rounds").asInt, panel.size, joins)
  private var g: Graft = _
  private var fixDir = ""
  private var stateDir = ""
  private var setups = 0
  /** The window each theme's table was last loaded with. */
  private val areas = scala.collection.mutable.Map[String, Ingest.BBox]()

  /** The Overture-shaped release on disk that areas are loaded from. */
  override def inputs(): Unit = {
    fixDir = s"${run.workDir}/explore/fixtures"
    OvertureFixtures.write(spark, fixDir, run.param("fixture_rows").asInt,
      run.param("fixture_files").asInt)
  }

  def setup(): Unit = {
    setups += 1
    stateDir = s"${run.workDir}/explore/state$setups"
    GeoViews.register(spark, run.dataDir)
    g = new Graft(spark, stateDir)
  }

  /** [[Graft.loadArea]]'s steps, called one by one so each is a span. */
  private def loadArea(key: String, b: Ingest.BBox): Ingest.LoadResult = {
    val res = run.span("ingest.load_ms")(Ingest.loadTheme(spark, fixDir, key, Some(b), Some(AreaLimit)))
    if (run.traced) {
      val files = FileIndex.listParquet(s"$fixDir/${ThemeMeta.tableName(key)}")
      run.span("ingest.file_index_ms")(FileIndex.build(spark, files))
    }
    run.add("ingest.files_total", res.fileCount)
    run.add("ingest.files_kept", res.prunedFileCount)
    run.span("fts.build_ms")(FtsIndex.build(spark, res.table))
    run.span("session.history_ms")(LoadHistory.append(spark, stateDir, LoadHistory.Entry(
      key, fixDir, s"[${b.xmin},${b.ymin},${b.xmax},${b.ymax}]", AreaLimit.toLong,
      cached = false, res.rowCount, res.fileCount, res.loadTimeMs)))
    res
  }

  private def save(k: String, v: String): Unit =
    run.op("session", k)(run.span("session.history_ms") {
      g.sessionState.set(k, v)
      g.sessionState.sync()
    })(_ => if (new SessionState(spark, stateDir).get(k).contains(v)) None
            else Some(s"session key $k not persisted"))

  /** A theme's loaded window and fixture files, for the checks after the run. */
  private def window(theme: String): Map[String, Any] =
    Map("dir" -> s"$fixDir/${ThemeMeta.tableName(theme)}",
      "bbox" -> areas.get(theme).map(b => Seq(b.xmin, b.ymin, b.xmax, b.ymax)))

  def pass(): Unit = {
    val sess = g.pipeline(debounceMs = 3600000L) // executeNow is called directly
    var last: DataFrame = null
    try script.zipWithIndex.foreach { case (step, i) =>
      val key = s"$i"
      step match {
        case Edit(st) =>
          // one interaction: the edit, the re-run it triggers, and the
          // bounded fetch of its rows; then the app saves the pipeline
          run.op("edit", key) {
            sess.update(nodes = st.nodes, search = st.search, limit = st.limit, bbox = st.bbox)
            val df = run.span("runtime.execute_ms")(sess.executeNow())
              .getOrElse(sys.error("executeNow returned no result"))
            run.add("runtime.executes", 1)
            if (df eq last) run.add("runtime.memo_hits", 1)
            last = df
            run.span("runtime.fetch_ms")(run.fetch(df))
          } { r => // DuckDB's (id, _source) pairs, after the run
            val (p, q) = (Themes(st.primary), Themes(1 - st.primary))
            run.defer(Map("kind" -> "edit", "primary" -> p, "other" -> q, "combine" -> st.combine,
              "bbox" -> st.bbox.map(b => Seq(b._1, b._2, b._3, b._4)), "search" -> st.search,
              "areas" -> Seq(p, q).map(t => t -> window(t)).toMap, "got" -> idDigest(r)))
          }
          if (run.traced) {
            val ts = st.nodes.map(_.table).distinct
            val fts = ts.filter(FtsIndex.hasIndex(spark, _)).toSet
            val fields = ts.map(t => t -> spark.table(t).schema.fieldNames.toSet).toMap
            run.span("compile.pipeline_ms")(PipelineCompiler.compile(st.nodes,
              Options(st.search, st.limit, st.bbox, fts, fields)))
          }
          save("pipeline", st.toString)
        case Search(q) =>
          run.op("search", key)(run.span("fts.search_ms")(g.search(q, tables))) { rows =>
            run.expect(s"explore:$key", digestRows(rows), // per table, where a failure throws
              digestRows(tables.flatMap(t => Bm25.searchTable(spark, t, q, 10).collect().toSeq)))
          }
        case Panel(p) =>
          if (run.traced) run.span("compile.shim_ms")(DuckSqlShim.rewrite(panel(p)))
          run.op("sql", key)(run.fetch(g.duckSql(panel(p))))(r => run.expect(s"sql:$p", r.digest))
        case Join(q) =>
          run.op("join", key)(run.span("geo.join_ms")(
            run.fetch(SparkEntry.queries(q)(spark, run.dataDir))))(r => run.expect(s"oracle:$q", r.digest))
        case Load(theme, b) =>
          run.op("load_area", key) {
            g.dropArea(Seq(theme))
            areas.remove(theme)
            val res = loadArea(theme, b)
            areas(theme) = b
            res
          } { res => // DuckDB's row count, after the run
            run.defer(Map("kind" -> "load", "theme" -> theme, "window" -> window(theme),
              "limit" -> AreaLimit, "got" -> res.rowCount))
          }
      }
    } finally sess.close()
  }
}

object Explore {
  /** The script is part of the workload's definition, drawn once from
    * this seed; the run's seed makes the tables and SQL-panel constants. */
  val ScriptSeed = 20201
  val Themes = Seq("places/place", "buildings/building")
  val AreaLimit = 33000
  val FullBox = Ingest.BBox(-4.0, -2.0, 4.0, 2.0)

  final case class PState(primary: Int, combine: Option[String],
                          bbox: Option[(Double, Double, Double, Double)],
                          search: String, limit: Int) {
    def nodes: Seq[PipelineNode] = {
      def src(i: Int) = (ThemeMeta.tableName(Themes(i)), Themes(i))
      val (t, k) = src(primary)
      PipelineNode("n1", "source", "", t, k) +: combine.toSeq.map { op =>
        val (t2, k2) = src(1 - primary)
        PipelineNode("n2", "combine", op, t2, k2, if (op == "exclude") Some(27830.0) else None)
      }
    }
  }

  sealed trait Step
  final case class Edit(st: PState) extends Step
  final case class Search(q: String) extends Step
  final case class Panel(i: Int) extends Step
  final case class Join(q: String) extends Step
  final case class Load(theme: String, b: Ingest.BBox) extends Step

  private val Terms = Vector("cafe", "shop", "Place 1", "Building 2", "residential")
  private val Limits = Vector(4000, 6000, 8000)

  /** One round of the script. The kinds of interaction follow the
    * reference app's loop (every pipeline change re-runs the pipeline
    * and saves the session; an unchanged state is served by the
    * signature memo); their shares are this benchmark's assumption, not
    * a measured trace: ten edits (seven new states, one of them run
    * twice in a row, and two returns to an earlier state), two
    * searches, two SQL-panel statements, one spatial join, one area
    * reload. */
  private val Round = Seq.fill(6)("edit") ++ Seq("revisit", "revisit", "rerun", "search", "search",
    "sql", "sql", "join", "load")
  /** The seven new states of a round change, in shuffled order: the
    * combine step three times (union, intersect, exclude, none in turn,
    * skipping the current one), the bbox, the search term (on/off), the
    * limit, and which theme is primary. */
  private val Changes = Seq("combine", "combine", "combine", "bbox", "search", "limit", "primary")
  private val Combines = Seq(Some("union"), Some("intersect"), Some("exclude"), None)

  /** The interaction script: both areas loaded in full (the session's
    * opening loads), then `rounds` shuffled rounds. Limits exceed every
    * fixture table, so a fetch returns whole results and its rows do
    * not depend on partition order. */
  def script(seed: Long, rounds: Int, nPanel: Int, joins: Seq[String]): Vector[Step] = {
    val rng = new scala.util.Random(seed)
    var st = PState(0, None, None, "", Limits(0))
    val seen = scala.collection.mutable.ArrayBuffer(st)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def window(w: Double, h: Double) = {
      val x = -2.0 + 0.25 * rng.nextInt(10)
      val y = -1.0 + 0.125 * rng.nextInt(8)
      (x, x + w, y, y + h)
    }
    var changes = Iterator.empty[String]
    val combines = Iterator.continually(Combines).flatten.filter(_ != st.combine)
    def next(): PState = {
      st = changes.next() match {
        case "combine" => st.copy(combine = combines.next())
        case "bbox" => st.copy(bbox = if (rng.nextDouble() < 0.2) None else Some(window(1.5, 1.0)))
        case "search" => st.copy(search = if (st.search.nonEmpty) "" else pick(Terms))
        case "limit" => st.copy(limit = pick(Limits.filter(_ != st.limit)))
        case _ => st.copy(primary = 1 - st.primary)
      }
      seen += st
      st
    }
    Themes.map(Load(_, FullBox)).toVector ++
    (0 until rounds).flatMap { _ =>
      changes = rng.shuffle(Changes).iterator
      rng.shuffle(Round).flatMap {
        case "edit" => Seq(Edit(next()))
        case "revisit" => st = pick(seen.toSeq); Seq(Edit(st))
        case "rerun" => val s = next(); Seq(Edit(s), Edit(s))
        case "search" => Seq(Search(pick(Terms)))
        case "sql" => Seq(Panel(rng.nextInt(nPanel)))
        case "join" => Seq(Join(pick(joins)))
        case _ =>
          val (x0, x1, y0, y1) = window(0.5 + 0.25 * rng.nextInt(6), 0.5 + 0.25 * rng.nextInt(4))
          Seq(Load(pick(Themes), Ingest.BBox(x0, y0, x1, y1)))
      }
    }.toVector
  }

  def digestRows(rows: Seq[Row]): String =
    Digest.rows(rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil), rows)

  /** Digest of a pipeline result's (id, _source) pairs. */
  def idDigest(r: Digest.Result): String = {
    val (i, j) = (r.names.indexOf("id"), r.names.indexOf("_source"))
    Digest.rows(Seq("id", "_source"), r.rows.map(x => Row(x.get(i), x.get(j))))
  }
}

/** `curate`: the web curation pipeline of `pipeline_curate_web`,
  * generalized from two shards to N: documents split into doc_id-range
  * shards, each step one [[IngestPipeline.ingestShard]] against the
  * persisted indexes plus one [[AnnIndex.append]] of the step's
  * embeddings slice, with index maintenance every K steps. Each pass
  * starts again from the seed indexes, so every pass does the same work;
  * each step's rows are checked against DuckDB's rows of the
  * `pipeline_curate_web` oracle for that shard's doc_id range.
  */
final class Curate(run: Run) extends Workload {
  private def spark = run.spark
  private val n = run.param("shards").asInt
  private val k = run.param("maintain_every").asInt
  private val root = s"${run.workDir}/curate"
  private val live = s"$root/live"
  private val seed = s"$root/seed"
  private def idx(name: String) = s"$live/$name"
  private val families = Seq("digest" -> "digest", "minhash" -> "minhash", "span" -> "span",
    "line" -> "line", "url" -> "digest")
  private var bench: DataFrame = _

  /** Shard i's documents with the HTML and URL columns of
    * pipeline_curate_web, written by perfbench/run.py as their own file,
    * so every shard's plans are the same plans over another file. The
    * repartition is the query's own (its corpus is a single file too). */
  private def shard(i: Int): DataFrame =
    spark.read.parquet(s"${run.param("input_dir").asText}/shard$i.parquet")
      .repartition(32, col("doc_id"))

  private def embSlice(i: Int): DataFrame =
    spark.read.parquet(s"${run.param("input_dir").asText}/emb$i.parquet")

  def setup(): Unit = {
    Harness.rmrf(new File(live))
    Harness.rmrf(new File(seed))
    Tables.registerAll(spark, run.dataDir)
    bench = spark.table("documents").where(col("source") === "src0")
    // seed indexes: the empty, schema-anchored indexes ingestShard
    // initializes for a first shard, and an ANN index from fixed artifacts
    val none = shard(0).where(lit(false)).withColumn("text", lit(""))
    Concurrent.inParallel(
      () => Dedup.writeDigestIndex(none, "doc_id", "text", s"$seed/digest"),
      () => Dedup.writeMinhashIndex(none, "doc_id", "text", s"$seed/minhash", 16, 3),
      () => Dedup.writeSpanGramIndex(none, "doc_id", "text", s"$seed/span", 8),
      () => Dedup.writeLineIndex(none, "doc_id", "text", s"$seed/line"),
      () => Dedup.writeDigestIndex(none.withColumn("_norm_url", lit("")), "doc_id", "_norm_url",
        s"$seed/url"))
    val noVec = spark.table("embeddings").where(lit(false))
    AnnIndex.buildFromArtifacts(noVec, "vec_id", "embedding", s"$seed/ann",
      centroids = noVec.select(col("vec_id").as("cent_id"),
        col("embedding").cast("array<double>").as("centroid")),
      cb = PqFixture.codebooks(spark),
      dims = 64, ivfK = 4, pqM = 4, pqK = 4, planes = 8, iters = 2)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def tree(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir))
  }

  def pass(): Unit = {
    Harness.rmrf(new File(live))
    copyTree(Paths.get(seed), Paths.get(live))
    val barrier = new AppendBarrier
    val bloom = Concurrent.forkValue(Decontaminate.prepareBloom(bench, "text", 3, 1L << 20, 0.03))
    def front(i: Int) = Concurrent.forkValue(run.span("ops.front_door_ms")(
      IngestPipeline.pinnedFrontDoor(shard(i), htmlCol = Some("html"))))
    var next = front(0)
    var kept = 0L
    var maintainS = 0.0
    try {
      for (i <- 0 until n) {
        val pinned = next
        if (i + 1 < n) next = front(i + 1)
        run.op("step", s"shard$i") {
          val out = run.span("ops.ingest_shard_ms")(IngestPipeline.ingestShard(shard(i), bench,
            idx("digest"), idx("minhash"), idx("span"),
            threshold = 1.5, spanN = 8, decontamN = 3, decontamMinHits = 2,
            htmlCol = Some("html"), urlCol = Some("url"), urlIndexPath = Some(idx("url")),
            lineIndexPath = Some(idx("line")), preparedBloom = Some(bloom),
            pinnedFront = Some(pinned()), externalBarrier = Some(barrier)))
          val rows = run.fetch(out)
          run.span("ops.ann_append_ms")(
            AnnIndex.append(embSlice(i), "vec_id", "embedding", idx("ann")))
          rows
        } { r =>
          kept += r.rows.length
          run.expect(s"curate:shard$i", r.digest)
        }
        if ((i + 1) % k == 0 || i == n - 1) {
          val t0 = System.nanoTime()
          run.timed {
            run.span("ops.barrier_wait_ms")(barrier.await())
            run.span("ops.maintain_ms") {
              val before = families.flatMap { case (p, _) => IndexStore.stats(spark, idx(p)) } ++
                AnnIndex.stats(spark, idx("ann")).toSeq.flatMap(s => Seq(s.pqCodes, s.lshBuckets))
              val reports = IngestPipeline.maintainIndexes(spark,
                families.map { case (p, f) => idx(p) -> f })
              AnnIndex.compact(spark, idx("ann"))
              run.peak("ops.dirty_fraction_max", before.map(_.dirtyFraction).max)
              run.peak("ops.leaves_per_prefix_max", before.map(_.maxLeavesPerPrefix).max)
              run.add("ops.compacted_prefixes",
                reports.filter(_.compacted).map(_.before.nDirtyPrefixes).sum)
            }
          }
          maintainS += (System.nanoTime() - t0) / 1e9
        }
      }
    } finally {
      // join every fork before the pass ends, whatever failed
      Seq[() => Any](() => barrier.await(), () => next(), () => bloom()).foreach { f =>
        try f() catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    run.op("check", "ann_index", timed = false) {
      run.fetch(AnnIndex.readPqCodes(spark, idx("ann"))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .selectExpr("vec_id", "CAST(sub AS BIGINT) AS sub", "code"))
    }(r => run.expect("oracle:ann_index_append", r.digest))
    val files = tree(live)
    run.extra("maintain_s", maintainS)
    run.extra("index_bytes", files.map(_.length).sum.toDouble)
    run.peak("ops.index_files", files.size)
    run.peak("ops.index_bytes", files.map(_.length).sum.toDouble)
    run.add("ops.admitted", kept)
  }
}

/** `batch_ops`: read-only `SparkEntry.queries` from every family, in a
  * fixed order, each fetched and checked against its DuckDB oracle. */
final class BatchOps(run: Run) extends Workload {
  private def spark = run.spark
  private val queries = run.param("queries").elements().asScala
    .map(e => e.get(0).asText -> e.get(1).asText).toVector

  def setup(): Unit = {
    Tables.registerAll(spark, run.dataDir)
    GeoViews.register(spark, run.dataDir)
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()
  }

  def pass(): Unit = queries.foreach { case (q, family) =>
    run.op("query", q)(run.span(family)(run.fetch(SparkEntry.queries(q)(spark, run.dataDir))))(r =>
      run.expect(s"oracle:$q", r.digest))
    spark.catalog.clearCache()
  }
}
