package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Tests must run from a plain checkout: no test source or resource may
  * name an absolute path outside the repo, except the shared synthetic
  * tables in the directory holding [[SparkSpec]]'s `sfDir`. A path is
  * any `/<root dir>/...` token whose first segment is a standard
  * filesystem root. (The Spark session is never started here.) */
class HermeticSpec extends SparkSpec {
  private val testData = Paths.get(sfDir).getParent.toString
  private val absolute =
    ("""(?<![\w.~$}-])/(?:root|home|opt|tmp|usr|var|mnt|srv|etc|data|dev|proc|""" +
      """Users|Volumes|private)(?:/[\w.-]+)*""").r

  test("src/test names no absolute path outside the repo and the test data") {
    val files = Files.walk(Paths.get("src/test")).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.toString.endsWith("HermeticSpec.scala")), "run from the repo root")
    val offenders = for {
      f: Path <- files
      m <- absolute.findAllIn(new String(Files.readAllBytes(f), "UTF-8"))
      if !m.startsWith(testData + "/")
    } yield s"$f: $m"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
