package graft.session

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}

/** `_session` key→value persistence (reference:
  * src/lib/sessionState.js:29-68,128-135 — INSERT OR REPLACE, point
  * SELECT, DELETE over a 2-column table).
  *
  * The table is tiny (≤ a handful of keys) and driver-local by
  * nature, so reads and writes never launch a Spark job: the state is
  * an in-memory map checkpointed to one Spark-readable parquet file
  * via parquet-hadoop's Group API (atomic write-new + swap).
  *
  * Durability contract matches the reference's 500 ms debounce
  * (sessionState.js:121): mutations buffer in memory and flush once
  * per quiet period, not once per `set()` — a crash may lose the last
  * ≤500 ms of mutations, exactly as the reference may. Call `sync()`
  * to force an immediate flush (e.g. before handing the dir to
  * another reader).
  */
final class SessionState(spark: SparkSession, dir: String) {

  private val path = s"$dir/_session"
  private var cache: Map[String, String] = loadFromDisk()
  private var pending: Option[ScheduledFuture[_]] = None

  // ── driver-side parquet IO (no Spark jobs for a ≤6-key table) ────

  private val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary key (UTF8);
      |  optional binary val (UTF8);
      |}""".stripMargin)

  private def loadFromDisk(): Map[String, String] = {
    val d = new java.io.File(path)
    if (!d.exists()) return Map.empty
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    files.flatMap { f =>
      try DriverParquet.read(f.getPath).flatMap { g =>
        // optional fields: a missing key/val is an unusable row
        if (g.getFieldRepetitionCount("key") > 0 && g.getFieldRepetitionCount("val") > 0)
          Some(g.getString("key", 0) -> g.getString("val", 0))
        else None
      } catch { case _: Exception => Nil }
    }.toMap
  }

  private def writeFile(target: java.io.File, entries: Seq[(String, String)]): Unit =
    DriverParquet.write(s"${target.getPath}/part-00000.parquet", schema,
      entries.map { case (k, v) => Seq("key" -> k, "val" -> v) })

  /** Write-new + swap: the live dir is renamed aside (not deleted)
    * before the new dir is renamed in, so a crash or failed rename at
    * any point leaves either the old or the new state intact — never
    * neither. Rename results are checked and fail loudly.
    */
  private def checkpoint(): Unit = synchronized {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    val tmp = new java.io.File(s"$path.tmp")
    val old = new java.io.File(s"$path.old")
    if (tmp.exists()) rm(tmp)
    tmp.mkdirs()
    writeFile(tmp, cache.toSeq)
    if (old.exists()) rm(old)
    val target = new java.io.File(path)
    if (target.exists() && !target.renameTo(old))
      sys.error(s"session checkpoint: could not move $path aside")
    if (!tmp.renameTo(target)) {
      if (old.exists()) old.renameTo(target) // restore previous state
      sys.error(s"session checkpoint: could not publish ${tmp.getPath} to $path")
    }
    if (old.exists()) rm(old)
  }

  private def scheduleFlush(): Unit = {
    pending.foreach(_.cancel(false))
    pending = Some(SessionState.flusher.schedule(new Runnable {
      def run(): Unit = checkpoint()
    }, SessionState.DebounceMs, TimeUnit.MILLISECONDS))
  }

  /** Force any buffered mutations to disk now. */
  def sync(): Unit = synchronized {
    pending.foreach(_.cancel(false))
    pending = None
    checkpoint()
  }

  def get(key: String): Option[String] = synchronized { cache.get(key) }

  def set(key: String, value: String): Unit = synchronized {
    cache = cache.updated(key, value)
    scheduleFlush()
  }

  def delete(key: String): Unit = synchronized {
    cache = cache - key
    scheduleFlush()
  }

  def all: Map[String, String] = synchronized { cache }

  /** Immediate, not debounced — the reference's clearSession issues
    * its DELETE synchronously (sessionState.js:128-135).
    */
  def clear(): Unit = synchronized { cache = Map.empty; sync() }

  /** Corrupt-JSON resilience (sessionState.test.js:111-122): returns
    * only entries whose value parses with `parse`, skipping the rest.
    */
  def loadParsed[T](parse: String => T): Map[String, T] =
    all.flatMap { case (k, v) =>
      try Some(k -> parse(v)) catch { case _: Exception => None }
    }
}

object SessionState {
  /** Reference debounce window (sessionState.js:121). */
  val DebounceMs = 500L

  /** Shared daemon flusher — one thread serves every instance and
    * never keeps the JVM alive.
    */
  private val flusher = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "session-state-flush")
    t.setDaemon(true)
    t
  })
}
