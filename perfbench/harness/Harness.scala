package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Canonical, order-insensitive digest of a result: the row count plus
  * the wrapping sum of one 64-bit hash per row. Every value is rendered
  * the same way `perfbench/digest.py` renders DuckDB's values, so an op
  * with a DuckDB oracle is checked against DuckDB's own rows.
  */
object Digest {
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Numbers compare as float64 (the oracle gate's own rule), written
    * as the exact decimal expansion of that double. */
  def number(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case s: String => s
    case n: java.math.BigDecimal => number(n.doubleValue)
    case n: java.lang.Number => number(n.doubleValue)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp =>
      tsFmt.format(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case t: java.time.Instant =>
      tsFmt.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => tsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def rows(names: Seq[String], rs: Iterable[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    var h = 0L
    rs.foreach { r =>
      val line = order.map { case (c, i) => c + "=" + value(r.get(i)) }.mkString("\u0001")
      h += java.nio.ByteBuffer.wrap(md.digest(line.getBytes(UTF_8)), 0, 8).getLong
      n += 1
    }
    f"$n:$h%016x"
  }

  final case class Result(names: Seq[String], rows: Array[Row]) {
    def digest: String = Digest.rows(names, rows)
  }
}

/** Driver-side Spark ledger for the traced phase: jobs, stage intervals
  * and summed task metrics, gathered from the listener bus. */
final class Ledger extends SparkListener {
  val stages = ArrayBuffer[(Long, Long, Int)]()
  val c = mutable.LinkedHashMap[String, Long](
    "jobs" -> 0L, "tasks" -> 0L, "task_failures" -> 0L, "task_ms" -> 0L, "cpu_ns" -> 0L,
    "gc_ms" -> 0L, "shuffle_read_bytes" -> 0L, "shuffle_write_bytes" -> 0L,
    "spill_bytes" -> 0L, "output_bytes" -> 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c("jobs") += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime) stages += ((s, d, i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    if (e.reason != org.apache.spark.Success) c("task_failures") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("task_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("output_bytes") += m.outputMetrics.bytesWritten
    }
  }
}

final case class OpRec(kind: String, name: String, phase: String, pass: Int,
                       ms: Double, ok: Boolean, err: String)

/** State of one benchmark run: op records, per-pass timed seconds,
  * layer spans (traced phase only) and expected digests. */
final class Run(initial: SparkSession, val spec: JsonNode) {
  var spark: SparkSession = initial
  val dataDir: String = spec.get("data_dir").asText
  val workDir: String = spec.get("work_dir").asText
  val ops = ArrayBuffer[OpRec]()
  val passes = ArrayBuffer[(String, Double)]()
  val extras = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Checks made after the run, outside the JVM (see run.py). */
  val deferred = ArrayBuffer[Map[String, Any]]()
  private val refs = mutable.Map[String, String]()
  var phase = "setup"
  var pass = 0
  @volatile var traced = false
  var passTimed = 0.0

  spec.get("expected").fields().asScala.foreach(e => refs(e.getKey) = e.getValue.asText)

  def param(name: String): JsonNode = spec.get("params").get(name)

  /** Time `f` into the layer `name` (traced phase only). */
  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val t0 = System.nanoTime()
      try f finally add(name, (System.nanoTime() - t0) / 1e6)
    }

  def add(name: String, v: Double): Unit = if (traced) synchronized {
    layers(name) = layers.getOrElse(name, 0.0) + v
  }

  def peak(name: String, v: Double): Unit = if (traced) synchronized {
    layers(name) = math.max(layers.getOrElse(name, 0.0), v)
  }

  def extra(name: String, v: Double): Unit =
    extras.getOrElseUpdate(s"$phase.$name", ArrayBuffer()) += v

  /** Untimed-by-op work that still belongs to the pass (maintenance,
    * barrier waits): counted into the pass's run time. */
  def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally passTimed += (System.nanoTime() - t0) / 1e9
  }

  /** A bounded fetch: forces the physical plan under `spark.plan_ms`
    * when traced, then brings the rows back. */
  def fetch(df: DataFrame): Digest.Result = {
    if (traced) span("spark.plan_ms")(df.queryExecution.executedPlan)
    Digest.Result(df.columns.toSeq, df.collect())
  }

  /** One operation: `body` is timed, `check` (untimed) returns the
    * reason the result is wrong, if it is. A throw or a wrong result
    * is a failed op; nothing is swallowed. */
  def op[T](kind: String, name: String, timed: Boolean = true)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) passTimed += ms / 1000
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) => try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    ops += OpRec(kind, name, phase, pass, ms, err.isEmpty, err.getOrElse(""))
    if (err.isEmpty) res.toOption else None
  }

  /** Compare with the expected digest for `key`: DuckDB's when the op
    * has an oracle, else the one `independent` computes the first time
    * the key is seen in this run, by another path through the program. */
  def expect(key: String, got: String, independent: => String = null): Option[String] = {
    val want = refs.getOrElse(key, {
      val d = Option(independent).getOrElse(sys.error(s"no expected digest for $key"))
      refs(key) = d
      d
    })
    if (want == got) None else Some(s"digest $got != expected $want")
  }

  /** Called from an op's check: leaves the rest of the check to
    * perfbench/run.py, which compares `payload("got")` with DuckDB's
    * answer after the run and fails the op when they differ. Returns
    * no error, as a check that passes. */
  def defer(payload: Map[String, Any]): Option[String] = {
    deferred += payload + ("op" -> ops.size) // the op is recorded right after its check
    None
  }

  def injected(): Unit = if (spec.path("inject").asBoolean(false)) {
    op("inject", "throw")(throw new IllegalStateException("injected failure"))(_ => None)
    op("inject", "wrong_digest")(fetch(spark.sql("SELECT 1 AS x")))(r =>
      expect("inject:wrong", r.digest, "1:0000000000000000"))
  }
}

trait Workload {
  /** Writes the workload's input files (untimed, once per run). */
  def inputs(): Unit = ()
  def setup(): Unit
  def pass(): Unit
}

object Harness {
  private def fresh(base: SparkSession): SparkSession = {
    val s = base.newSession()
    graft.core.Engine.prepare(s)
    s
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => new ObjectMapper().writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  private def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--export-oracles", out) =>
      Files.write(Paths.get(out), json(graft.SparkEntry.oracleSql).getBytes(UTF_8))
    case Seq("--digest-file", path) =>
      val s = session()
      val df = s.read.parquet(path)
      println(Digest.rows(df.columns.toSeq, df.collect()))
      s.stop()
    case Seq("--spec", specPath, "--out", out) => runSpec(specPath, out)
    case _ =>
      System.err.println("usage: Harness --spec <spec.json> --out <result.json> | " +
        "--export-oracles <out.json> | --digest-file <parquet>")
      sys.exit(2)
  }

  private def runSpec(specPath: String, out: String): Unit = {
    val spec = new ObjectMapper().readTree(new File(specPath))
    val base = session()
    val run = new Run(base, spec)
    val seconds = spec.get("seconds").asDouble
    val trace = spec.get("trace").asInt == 1
    val w: Workload = spec.get("workload").asText match {
      case "explore" => new Explore(run)
      case "curate" => new Curate(run)
      case "batch_ops" => new BatchOps(run)
    }
    run.phase = "inputs"
    w.inputs()
    // the JVM's first Spark query pays class loading; keep it out of set-up
    base.range(1).selectExpr("id + 1").collect()
    // set-up: several fresh sessions over fresh state; the median is reported
    run.phase = "setup"
    val setups = (1 to spec.get("setups").asInt).map { _ =>
      run.spark = fresh(base)
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }

    def measure(phase: String, secs: Double): Unit = {
      run.phase = phase
      val end = System.nanoTime() + (secs * 1e9).toLong
      do {
        run.pass += 1
        run.passTimed = 0.0
        run.injected()
        w.pass()
        run.passes += ((phase, run.passTimed))
      } while (System.nanoTime() < end)
    }

    // An untraced run measures the first pass in its JVM: with the
    // script fixed, its JIT and generated-code warm-up repeats run to
    // run, while later passes keep speeding up for several passes. A
    // traced run first spends one unused pass (checked, not timed into
    // any metric), so neither of its measured passes is the cold one.
    if (trace) measure("warmup", 0)
    val ledger = new Ledger
    var window = (0L, 0L)
    if (!trace) measure("measure", seconds)
    else {
      // traced, then untraced: passes still speed up, so the untraced
      // pass runs warmer and the ratio errs towards more overhead
      base.sparkContext.addSparkListener(ledger)
      run.traced = true
      val t0 = System.currentTimeMillis()
      measure("traced", seconds / 2)
      window = (t0, System.currentTimeMillis())
      run.traced = false
      Thread.sleep(1000) // let the listener bus drain
      base.sparkContext.removeSparkListener(ledger)
      measure("base", seconds / 2)
    }

    // provenance: the q1/q3 anchors timed in this JVM (batch_ops times them as ops)
    val anchors = if (w.isInstanceOf[BatchOps]) Map.empty[String, Double] else
      Seq("q1_pricing_summary", "q3_join_agg").map { q =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(run.spark, run.dataDir).collect()
        q -> (System.nanoTime() - t0) / 1e9
      }.toMap

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setups,
      "passes" -> run.passes.map { case (p, s) => Map("phase" -> p, "s" -> s) },
      "ops" -> run.ops.map(o => mutable.LinkedHashMap("kind" -> o.kind, "name" -> o.name,
        "phase" -> o.phase, "pass" -> o.pass, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)),
      "extras" -> run.extras,
      "deferred" -> run.deferred,
      "layers" -> run.layers,
      "ledger" -> mutable.LinkedHashMap[String, Any](
        "window_ms" -> Seq(window._1, window._2),
        "stages" -> ledger.stages.map { case (s, e, n) => Seq(s, e, n) },
        "counters" -> ledger.c),
      "provenance" -> mutable.LinkedHashMap[String, Any](
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "heap_bytes" -> Runtime.getRuntime.maxMemory(),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> base.version,
        "anchors_s" -> anchors))
    Files.write(Paths.get(out), json(result).getBytes(UTF_8))
    base.stop()
  }
}
