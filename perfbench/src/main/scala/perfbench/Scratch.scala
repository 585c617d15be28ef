package perfbench

import java.nio.file.{Files, Path}

/** The one scratch root of a run: crawl work dirs, `spark.local.dir` and
  * `java.io.tmpdir` all live under it. It is deleted when the run ends,
  * also when the JVM is stopped by a signal (shutdown hook). */
final class Scratch(val root: Path) {
  Files.createDirectories(root)
  private val hook = new Thread(() => Scratch.delete(root))
  Runtime.getRuntime.addShutdownHook(hook)

  private var n = 0
  def newDir(prefix: String): Path = synchronized {
    n += 1
    Files.createDirectories(root.resolve(f"$prefix-$n%03d"))
  }

  def close(): Unit = {
    Scratch.delete(root)
    try Runtime.getRuntime.removeShutdownHook(hook)
    catch { case _: IllegalStateException => () } // already shutting down
  }
}

object Scratch {
  /** Deletes a tree, ignoring what vanished or cannot be removed. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
      catch { case _: java.io.UncheckedIOException => () }
      finally walk.close()
    }

  /** Total size of the regular files under `p`. */
  def bytesUnder(p: Path): Long = {
    val walk = Files.walk(p)
    try {
      var total = 0L
      walk.filter(Files.isRegularFile(_)).forEach(f => total += Files.size(f))
      total
    } finally walk.close()
  }
}
