package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** Temporary directories for specs. Every `graft-*` directory made
  * here is deleted when the test JVM exits, after Spark's own shutdown
  * hook has stopped the context and its streaming queries, so nothing
  * still writes into one while it goes. */
object TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()

  // Hadoop runs higher priorities first; Spark's hook runs at
  // FileSystem.SHUTDOWN_HOOK_PRIORITY + 30.
  ShutdownHookManager.get().addShutdownHook(
    () => made.forEach(p => FileUtils.deleteQuietly(p.toFile)),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  def create(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }
}
