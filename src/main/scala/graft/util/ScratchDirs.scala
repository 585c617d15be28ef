package graft.util

import java.nio.file.{Files, Paths}

/** Scratch directories for engine-internal state: the memoized ANN index
  * layouts, the memoized mini-crawl, the bench crawl work dirs.
  *
  * They go on tmpfs (`/dev/shm`) when it is writable, else under the JVM
  * temp dir: the partitioned index layouts are hundreds of small
  * partition-directory files, and on a slow local disk their commit
  * overhead dominates the write (~4 s vs <1 s on tmpfs for the ANN
  * index). Every directory made here is deleted by [[delete]] (one),
  * [[cleanup]] (all), or the single JVM shutdown hook this object
  * registers, so a run that ends early does not leave its scratch on
  * tmpfs.
  */
object ScratchDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => cleanup(), "graft-scratch-cleanup"))

  /** A new empty directory named `prefix` + a random suffix. */
  def create(prefix: String): String = {
    hook
    val shm = Paths.get("/dev/shm")
    val dir =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    dirs.add(dir.toString)
    dir.toString
  }

  /** Delete one directory made by [[create]]. */
  def delete(dir: String): Unit = if (dirs.remove(dir)) deleteTree(dir)

  /** Delete every directory made by [[create]] and not yet deleted
    * (idempotent). */
  def cleanup(): Unit = {
    var dir = dirs.poll()
    while (dir != null) {
      deleteTree(dir)
      dir = dirs.poll()
    }
  }

  private def deleteTree(dir: String): Unit =
    try new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    catch { case _: Exception => () }
}
