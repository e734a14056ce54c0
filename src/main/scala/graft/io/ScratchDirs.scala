package graft.io

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Temp dirs that outlive the call that made them but not the JVM:
  * `graft_<kind>_*` under `java.io.tmpdir`, each deleted by [[remove]] or,
  * at the latest, by ONE shutdown hook per JVM that deletes every dir
  * still live. Scratch artifacts and the roundtrip queries' landing
  * zones both take their dirs here, so a long session (repeated bench
  * passes, each building a fresh artifact set) registers no hook per dir
  * and leaves nothing behind at exit.
  */
object ScratchDirs {

  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook = sys.addShutdownHook(live.asScala.toSeq.foreach(rmrf))

  /** A fresh, empty `graft_<kind>_*` dir, deleted at JVM exit. */
  def create(kind: String): Path = {
    hook
    val dir = Files.createTempDirectory(s"graft_${kind}_")
    live.add(dir)
    dir
  }

  /** Delete `dir` (made by [[create]]) now and drop it from the exit hook. */
  def remove(dir: Path): Unit = {
    live.remove(dir)
    rmrf(dir)
  }

  private def rmrf(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => try Files.delete(p) catch { case _: Throwable => () })
}
