package graft

import java.nio.file.{Files, Path}

/** Temp dirs for the suites: each is created under the JVM temp dir and
  * deleted, with everything under it, when the test JVM exits, so a
  * suite run leaves the temp dir as it found it. */
object TempDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      made.forEach { root =>
        try
          if (Files.exists(root))
            Files.walk(root).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
        catch { case scala.util.control.NonFatal(_) => () }
      }))
  }

  /** A fresh temp dir whose name starts with `prefix`. */
  def apply(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }
}
