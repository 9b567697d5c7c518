package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every query key is ONE entry — its Spark body and its
  * oracle SQL in one `QueryKey` — owned by the query family beside the
  * operator it exercises, and `SparkEntry` builds `queries` and
  * `oracleSql` from the one list of families. Pinned three ways: the
  * families partition the key set; a source scan of `src/main`
  * (comments ignored) finds no second key registry; and no operator,
  * source or streaming file refers to a query family, so the
  * dependency runs from the families to the operators only. (The
  * Spark session is never started here.) */
class QueryFamilySpec extends AnyFunSuite {
  private val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")

  /** Source with block and line comments removed (a `//` right after a
    * `:` is a URI scheme, not a comment). */
  private def code(f: Path): String =
    new String(Files.readAllBytes(f), UTF_8)
      .replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""(?m)(?<!:)//.*$""", "")

  private lazy val sources: Seq[Path] = Files.walk(Paths.get("src/main")).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  test("the families partition SparkEntry's keys, and every key carries its oracle") {
    val keys = SparkEntry.families.flatMap(_.map(_._1))
    val dups = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"keys in more than one entry: ${dups.toSeq.sorted}")
    assert(keys.toSet == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(keys.size == 176)
    val blank = SparkEntry.families.flatten.collect { case (k, q) if q.oracle.trim.isEmpty => k }
    assert(blank.isEmpty, s"keys with an empty oracle: $blank")
  }

  test("src/main holds no second key registry") {
    assert(sources.contains(entry), "run from the repo root")
    // a registry by name, or a query key mapped straight to a lambda,
    // an eta-expanded method or its SQL outside its one QueryKey entry
    val byName = """\bPipelineQueries\b|\b(val|def)\s+(queries|oracleSql)\s*:""".r
    val byKey = ("\"([a-z0-9_]+)\"\\s*->\\s*(\\(\\(\\w+,\\s*\\w+\\)\\s*=>|" +
      "\\(\\w+\\s+_\\)|s?\"{3}\\s*(WITH|SELECT)\\b)").r
    // each pattern must hit a known match (SparkEntry's declaration, a
    // map-of-lambdas entry), so a rename cannot turn this scan vacuous
    assert(byName.findFirstIn(code(entry)).isDefined)
    assert(byKey.findFirstIn("\"storm_id\" -> ((s, d) =>").isDefined)
    val keys = SparkEntry.queries.keySet
    val found = for {
      f <- sources if f != entry
      src = code(f)
      hit <- byName.findAllIn(src).toSeq ++
        byKey.findAllMatchIn(src).filter(m => keys(m.group(1))).map(_.group(1))
    } yield s"$f: $hit"
    assert(found.isEmpty, s"key registry outside SparkEntry:\n${found.mkString("\n")}")
  }

  test("no operator, source or streaming file refers to a query family") {
    val familyDecl = """\bval\s+keys\s*:\s*Seq\[\(String,\s*QueryKey\)\]""".r
    val objectDecl = """\bobject\s+(\w+)""".r
    val familyFiles = sources.filter(f => familyDecl.findFirstIn(code(f)).isDefined)
    val families = familyFiles.flatMap(f => objectDecl.findAllMatchIn(code(f)).map(_.group(1)))
    assert(families.size == SparkEntry.families.size,
      s"family objects in src/main ($families) vs SparkEntry.families")
    // QueryCommon is the families' shared fixture object: the same rule
    val owned = families :+ "QueryCommon"
    val layers = Seq("operators", "sources", "streaming").map(p => s"src/main/scala/graft/$p/")
    val found = for {
      f <- sources if layers.exists(f.toString.startsWith(_)) && !familyFiles.contains(f) &&
        !f.endsWith("QueryCommon.scala")
      src = code(f)
      name <- owned if s"\\b$name\\b".r.findFirstIn(src).isDefined
    } yield s"$f -> $name"
    assert(found.isEmpty, s"library code depends on a query family:\n${found.mkString("\n")}")
  }
}
