package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Generated-input bookkeeping. */
object Inputs {
  /** SHA-256 over every file under `dir` (relative path and bytes, in
    * path order): equal seeds give equal hashes. */
  def sha256(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> f).toSeq
      .filterNot { case (rel, _) => rel.split('/').exists(n => n.startsWith(".") || n.startsWith("_")) }
      .sortBy(_._1)
    val buf = new Array[Byte](1 << 16)
    files.foreach { case (rel, f) =>
      md.update(rel.getBytes("UTF-8"))
      val in = Files.newInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)
}
