package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every stream face starts one way: through StreamOps'
  * foreachBatch skeleton or its parquet-sink skeleton, and only the
  * lineage guard lists a checkpoint's offsets. A source scan of the
  * streaming layer (plus Retrieval's BM25 ingest) keeps it that way:
  * outside those three methods, and KafkaWire's ProcessingTime sinks
  * (allowlisted by name), no code may call `foreachBatch` or
  * `.writeStream` or build an `offsets` path. Comments are ignored.
  * (The Spark session is never started here.) */
class StreamSkeletonSpec extends AnyFunSuite {
  private val files = {
    val dir = Paths.get("src/main/scala/graft/streaming")
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq :+
      Paths.get("src/main/scala/graft/operators/Retrieval.scala")
  }

  private val patterns = Seq(
    "foreachBatch" -> """\bforeachBatch\b""".r,
    "writeStream" -> """\.writeStream\b""".r,
    "offsets" -> """/offsets\b|"offsets"""".r)

  /** (file, enclosing def, pattern) -> allowed occurrences. */
  private val allowed = Map(
    ("StreamOps.scala", "startForeachBatch", "foreachBatch") -> 1,
    ("StreamOps.scala", "startForeachBatch", "writeStream") -> 1,
    ("StreamOps.scala", "startParquetSink", "writeStream") -> 1,
    ("StreamOps.scala", "requireCheckpointMatchesState", "offsets") -> 1,
    ("KafkaWire.scala", "startTopicToTopic", "writeStream") -> 2)

  /** Source with block and line comments removed (a `//` right after a
    * `:` is a URI scheme, not a comment). */
  private def code(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""(?m)(?<!:)//.*$""", "")

  private val defName = """\bdef\s+(\w+)""".r

  test("one foreachBatch skeleton, one parquet-sink skeleton, one offsets listing") {
    assert(files.forall(Files.isRegularFile(_)), "run from the repo root")
    assert(files.exists(_.getFileName.toString == "CorpusStream.scala"))
    val found = for {
      f <- files
      src = code(new String(Files.readAllBytes(f), UTF_8))
      (name, re) <- patterns
      m <- re.findAllMatchIn(src)
    } yield {
      val owner = defName.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("<top>")
      (f.getFileName.toString, owner, name)
    }
    val counts = found.groupBy(identity).map { case (k, v) => k -> v.size }
    val extra = counts.filter { case (k, n) => allowed.get(k).forall(_ < n) }
    assert(extra.isEmpty, s"stream wiring outside the skeletons and the guard: $extra")
    assert(counts == allowed, s"each skeleton and the guard must exist once: $counts")
  }
}
