package graft.util

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Fs {
  /** `Files.list` with the stream CLOSED — the raw stream holds a directory
    * fd open until GC, which leaks one fd per staged batch in long-lived
    * maintenance loops. */
  def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Delete `p` and everything under it; a missing path is a no-op. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) list(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
