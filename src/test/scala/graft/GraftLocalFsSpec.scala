package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.sources.{GraftLocalFileSystem, StormSinks}
import graft.storm.{StormFeed, StormPipeline}

/** graft's `file:` filesystem ([[graft.sources.GraftLocalFs]]) leaves
  * the same permissions as Hadoop's stock one and forks no `chmod` or
  * `readlink` on the storm stream's path. */
class GraftLocalFsSpec extends SparkSpec {

  /** Every path under `root` (relative) with its mode, type bits
    * included. */
  private def modes(root: JPath): Map[String, (String, Int)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
          Files.getAttribute(p, "unix:mode").asInstanceOf[Int])
    }.toMap

  /** One tree of files and directories through `fs` under `root`:
    * default and explicit create/mkdirs permissions, checksum files,
    * set-permission on files and directories, a sticky-bit request and
    * a directory that already carries set-group-ID. */
  private def build(fs: FileSystem, root: JPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    fs.mkdirs(p("a/b/c"))
    fs.mkdirs(p("d700"), new FsPermission("700"))
    val out = fs.create(p("a/b/file.txt"))
    out.write("x".getBytes("UTF-8")); out.close()
    fs.create(p("a/f640"), new FsPermission("640"), true, 4096, 1.toShort, 1 << 20, null).close()
    fs.setPermission(p("a/b"), new FsPermission("751"))
    fs.setPermission(p("a/b/file.txt"), new FsPermission("600"))
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), new FsPermission("1777"))
    fs.mkdirs(p("setgid"))
    assert(new ProcessBuilder("chmod", "g+s", root.resolve("setgid").toString).start().waitFor() == 0)
    fs.setPermission(p("setgid"), new FsPermission("750"))
  }

  test("graft's and Hadoop's stock local filesystems leave identical permissions") {
    val conf = new Configuration()
    val stock = new LocalFileSystem()
    val ours = new GraftLocalFileSystem()
    Seq(stock, ours).foreach(_.initialize(URI.create("file:///"), conf))
    val base = Files.createTempDirectory("graft-localfs")
    build(stock, base.resolve("stock"))
    build(ours, base.resolve("graft"))
    val (a, b) = (modes(base.resolve("stock")), modes(base.resolve("graft")))
    assert(a.size >= 10 && a.keySet == b.keySet)
    a.keys.toSeq.sorted.foreach(k => assert(a(k) == b(k), s"$k: stock ${a(k)} vs graft ${b(k)}"))
    // the set-ID and sticky cases were exercised, not skipped
    assert((a("setgid")._2 & 0x400) != 0 && (a("sticky")._2 & 0x200) != 0)
  }

  test("the storm drain plus the lake merge start no chmod or readlink process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = Files.createTempDirectory("graft-nofork").toString
    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, sfDir))
      .select(col("event_id"), col("ts"), col("raw_value"))
    wire.coalesce(2).write.json(s"$base/in")

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      graft.streaming.StreamOps.runEnrichmentSupervised(
        spark, s"$base/in", s"$base/out", s"$base/cp")
      assert(StormSinks.mergeById(spark.read.parquet(s"$base/out"), s"$base/lake") > 0)
      // one deliberate start, so a recording that sees nothing fails
      assert(new ProcessBuilder("true").start().waitFor() == 0)
    } finally rec.stop()
    val file = Files.createTempFile("graft-nofork", ".jfr")
    rec.dump(file)
    rec.close()
    val commands = RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    def program(c: String) = c.trim.split("\\s+").head.split('/').last
    assert(commands.exists(program(_) == "true"), s"recording saw no process start: $commands")
    val forks = commands.filter(c => Set("chmod", "readlink")(program(c)))
    assert(forks.isEmpty, s"${forks.size} chmod/readlink starts, e.g. ${forks.take(3)}")
  }
}
