package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library code reads a published lake version one way: it resolves
  * the pointer with `StormSinks.currentVersionName` and reads group
  * tables through the segment-aware `readGroupTableAt` /
  * `readGroupTableKeyedAt`. A source scan of `src/main` keeps the
  * version layout inside StormSinks: outside it, no code may call
  * `currentVersionDir(` (whose `<ver>/<table>` paths miss delta
  * segments), name the `_segments` manifest as a literal or a path
  * segment, parse a version name with `lastIndexOf("v-")`, or name
  * the `_current` pointer's path. Comments are ignored. (The Spark
  * session is never started here.) */
class LakeReadPathSpec extends AnyFunSuite {
  private val owner = Paths.get("src/main/scala/graft/sources/StormSinks.scala")

  private val patterns = Seq(
    "currentVersionDir(" -> """\bcurrentVersionDir\s*\(""".r,
    "_segments" -> """"_segments"|/_segments\b""".r,
    "lastIndexOf(\"v-\")" -> """\blastIndexOf\s*\(\s*"v-"\s*\)""".r)

  /** Source with block and line comments removed (a `//` right after a
    * `:` is a URI scheme, not a comment). */
  private def code(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""(?m)(?<!:)//.*$""", "")

  private def codeOf(f: java.nio.file.Path): String =
    code(new String(Files.readAllBytes(f), UTF_8))

  test("outside StormSinks, src/main resolves no version dir by hand and names no manifest") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.contains(owner), "run from the repo root")
    // the patterns match the owner's own layout code, so a rename there
    // cannot silently turn this scan vacuous
    val own = codeOf(owner)
    assert(patterns.take(2).forall(_._2.findFirstIn(own).isDefined))
    val found = for {
      f <- files if f != owner
      src = codeOf(f)
      (name, re) <- patterns
      _ <- re.findAllMatchIn(src)
    } yield s"$f: $name"
    assert(found.isEmpty,
      s"lake version layout used outside StormSinks:\n${found.mkString("\n")}")
  }

  test("outside StormSinks, src/main names no _current pointer path") {
    // the pointer is read (name and mtime) only through StormSinks, so
    // a stat of it elsewhere cannot pair one version with another's mtime
    val pointer = """"_current"|/_current\b""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.contains(owner), "run from the repo root")
    assert(pointer.findFirstIn(codeOf(owner)).isDefined)
    val found = files.filter(f => f != owner && pointer.findFirstIn(codeOf(f)).isDefined)
    assert(found.isEmpty, s"_current pointer path outside StormSinks:\n${found.mkString("\n")}")
  }
}
