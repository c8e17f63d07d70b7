package graft.util

import java.nio.file.{Files, LinkOption, Path}
import java.util.Comparator

/** Deletion of the temp dirs a run writes (session memos, streaming
  * scratch). `File.deleteOnExit` cannot do it: it deletes only empty dirs,
  * and in registration order, so a dir registered before its contents
  * stays behind.
  */
object TempDirs {

  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => atExit.forEach(d => delete(d)),
    "graft-tempdir-cleanup"))

  /** Deletes `dir` and everything under it, if it exists. A symbolic link
    * is deleted itself, never followed. */
  def delete(dir: Path): Unit = {
    atExit.remove(dir)
    if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Deletes `dir` (as [[delete]]) when the JVM exits, unless it was
    * deleted before: for a dir that a returned frame still reads lazily. */
  def deleteAtExit(dir: Path): Unit = atExit.add(dir)
}
