package perfbench

import java.io.File
import org.apache.commons.io.FileUtils

object Util {
  /** (files, bytes) under `dir`, recursively. */
  def du(dir: String): (Long, Long) = {
    val d = new File(dir)
    (FileUtils.listFiles(d, null, true).size.toLong, FileUtils.sizeOfDirectory(d))
  }

  /** Order-free digest of collected rows (exact: doubles print in full). */
  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
