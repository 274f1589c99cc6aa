package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Small local-filesystem helpers for the lake and landing directories. */
object Fs {

  def list(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)

  def delete(root: Path): Unit =
    if (Files.exists(root))
      Using.resource(Files.walk(root))(
        _.iterator().asScala.toList.reverse.foreach(Files.delete))

  /** Copies the tree at `from` to `to`, replacing whatever `to` held. */
  def copyTree(from: Path, to: Path): Unit = {
    delete(to)
    Using.resource(Files.walk(from))(_.iterator().asScala.toList).foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
  }

  /** Bytes of every regular file under `root`. */
  def bytes(root: Path): Long = files(root).map(Files.size).sum

  /** Data files (not `_SUCCESS` or `.crc` sidecars) keyed by path, with
    * size and modification time, to diff what a stage wrote. */
  def dataFiles(root: Path): Map[String, (Long, Long)] =
    files(root).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }.map(p => p.toString ->
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
}
