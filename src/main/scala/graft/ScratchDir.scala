package graft

import java.nio.file.{Files, Path}

/** Scratch directories that live until the JVM exits. The declared
  * lifecycle queries build an artifact and return a lazy frame over it,
  * so their directory must outlive the call, and the caller (Verify,
  * Bench, a test suite) never learns the path. Every directory made
  * here is deleted, with everything under it, by one shutdown hook. */
object ScratchDir {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hook = sys.addShutdownHook(dirs.forEach(d => deleteTree(d)))

  /** A fresh directory under the system temp dir named `prefix…`. */
  def apply(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }

  /** Delete `root` and everything under it; a missing path is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
