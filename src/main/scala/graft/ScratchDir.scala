package graft

import java.nio.file.{Files, Path}

/** Scratch directories that live until the JVM exits. A key that builds
  * an index on disk and returns a lazy frame over it cannot delete the
  * directory itself (the frame reads it later), so every such directory
  * is registered here and one shutdown hook deletes them all,
  * recursively, each with the layout copies keyed on it
  * ([[Tables.layoutRoot]]), which a scratch corpus may have. */
object ScratchDir {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(deleteRecursively)))

  /** A new directory under `java.io.tmpdir`, deleted at JVM exit. */
  def create(prefix: String): String = {
    hook
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dirs.add(java.nio.file.Paths.get(Tables.layoutRoot(dir.toString)))
    dir.toString
  }

  private def deleteRecursively(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
