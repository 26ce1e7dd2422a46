package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming surface: a stream is [[Streams.files]] (or
  * [[EventStreams.events]]) → an operator → [[Streams.toMemory]] or
  * [[Streams.exactlyOnce]], so `graft.streaming` holds no per-use
  * `start*` wrapper, and `Streams` is exactly the source and the two
  * sinks — a new member must come with a case here.
  */
class StreamsSurfaceSpec extends AnyFunSuite {

  /** The top-level classes and objects compiled into
    * `graft.streaming`, read from the classes directory (nested case
    * classes are rows, whose `start_ts`-like accessors are no starters).
    */
  private def streamingClasses: Seq[Class[_]] = {
    val root = new java.io.File(
      Streams.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val dir = new java.io.File(root, "graft/streaming")
    require(dir.isDirectory, s"graft.streaming is not a classes directory: $dir")
    dir.listFiles().toSeq.map(_.getName.stripSuffix(".class"))
      .filter(_.matches("[A-Za-z0-9_]+\\$?")).sorted
      .map(n => Class.forName("graft.streaming." + n))
  }

  private def publicMethods(c: Class[_]): Seq[String] =
    c.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$")).distinct.sorted

  test("graft.streaming has no public start* method") {
    val classes = streamingClasses
    assert(classes.exists(_.getName == "graft.streaming.EventStreams$"))
    val starters = for {
      c <- classes
      m <- publicMethods(c) if m.startsWith("start")
    } yield s"${c.getName}.$m"
    assert(starters.isEmpty,
      s"wire the operator through Streams instead of a starter: $starters")
  }

  test("Streams is one source, one memory sink and one exactly-once sink") {
    assert(publicMethods(Streams.getClass) == Seq("exactlyOnce", "files", "toMemory"))
    assert(publicMethods(EventStreams.getClass).contains("events"))
  }
}
