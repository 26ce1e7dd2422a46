package graft

/** Temp directories for the specs. Each one is deleted, recursively,
  * when the forked test JVM exits, so a test run leaves nothing behind
  * in `java.io.tmpdir`.
  */
object TempDir {
  def apply(prefix: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.ops.TableWrite.scratchDir(prefix))
}
