package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session), plus
  * the suite's scratch directories. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under `java.io.tmpdir`, deleted with everything
    * in it after the suite's last test. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(SparkSpec.deleteTree(_)) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally paths.close()
  }
}
