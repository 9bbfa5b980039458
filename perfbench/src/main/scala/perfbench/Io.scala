package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Small filesystem helpers. */
object Io {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }

  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p)) list(p).foreach(deleteTree)
    Files.deleteIfExists(p): Unit
  }
}
