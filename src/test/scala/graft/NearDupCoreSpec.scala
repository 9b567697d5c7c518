package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The near-duplicate joins share one core: each step (band, prefix
  * rank, exact verify) has one definition in `Dedup`. A source scan of
  * `src/main/scala/graft/operators`, comments stripped, names the
  * enclosing `def` of every occurrence of a step's signature form and
  * fails on any copy outside its owner:
  *  - the band explode `posexplode(transform(sequence(` — only the
  *    bit-chunk band `bitBands` and the MinHash slice band `bandedOf`;
  *  - `intersectCount(` — only the Jaccard verify `verifyJaccard` and
  *    the containment verify in `containmentPairs`;
  *  - a `row_number().over(` window ordered by `(df, s)` — only the
  *    PPJoin prefix rank `rankPostings`.
  * (The Spark session is never started here.) */
class NearDupCoreSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft/operators")

  /** Source with block and line comments removed (a `//` right after a
    * `:` is a URI scheme, not a comment). */
  private def code(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""(?m)(?<!:)//.*$""", "")

  private val defRe = """\bdef\s+(\w+)""".r

  /** (file name, def name, def text) for every def of the operators,
    * each def running to the next one. */
  private lazy val defs: Seq[(String, String, String)] =
    Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.flatMap { f =>
        val src = code(new String(Files.readAllBytes(f), UTF_8))
        val starts = defRe.findAllMatchIn(src).toSeq
        val ends = starts.drop(1).map(_.start) :+ src.length
        starts.zip(ends).map { case (m, end) =>
          (f.getFileName.toString, m.group(1), src.substring(m.start, end))
        }
      }

  private def owners(is: String => Boolean): Set[(String, String)] =
    defs.collect { case (f, d, body) if is(body) => (f, d) }.toSet

  private val dfsOrder = """orderBy\(\s*(col\(\s*)?"df"\s*\)?\s*,\s*(col\(\s*)?"s"""".r

  private val steps: Seq[(String, String => Boolean, Set[(String, String)])] = Seq(
    ("band explode", _.contains("posexplode(transform(sequence("),
      Set("Dedup.scala" -> "bitBands", "Dedup.scala" -> "bandedOf")),
    ("intersectCount", _.contains("intersectCount("),
      Set("Dedup.scala" -> "verifyJaccard", "Dedup.scala" -> "containmentPairs")),
    ("(df, s) prefix rank",
      b => b.contains("row_number().over(") && dfsOrder.findFirstIn(b).isDefined,
      Set("Dedup.scala" -> "rankPostings")))

  test("each near-dup join step has one definition in src/main operators") {
    assert(Files.isDirectory(root), "run from the repo root")
    val bad = steps.flatMap { case (name, is, allowed) =>
      val found = owners(is)
      // the owners themselves must still match, so a rename there
      // cannot silently turn this scan vacuous
      val missing = (allowed -- found).map { case (f, d) =>
        s"$name: owner $f def $d no longer matches" }
      val copies = (found -- allowed).map { case (f, d) => s"$name: copy in $f def $d" }
      (missing ++ copies).toSeq.sorted
    }
    assert(bad.isEmpty, s"near-dup step outside its one definition:\n${bad.mkString("\n")}")
  }
}
