package lifebench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** On-disk sizes of the stores a workload persisted. */
object Fs {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f)).toList
      finally s.close()
    }
  }

  /** Data bytes under `dir`, Hadoop's `.crc` side files excluded. */
  def bytes(dir: String): Long =
    walk(dir).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  /** Data files under `dir` (`.crc` side files and markers excluded). */
  def files(dir: String): Int =
    walk(dir).count { f =>
      val n = f.getFileName.toString
      !n.endsWith(".crc") && !n.startsWith("_")
    }

  /** `batch=<id>` directories directly under `dir`. */
  def batchDirs(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("batch=")) finally s.close()
    }
  }
}
