package graft

/** Pins the session-level engine-stability configs that correctness or
  * performance depend on, so a GraftSession refactor can't silently
  * drop them. */
class GraftSessionSpec extends SparkSpec {

  test("heap-robustness: TaskMemoryManager page size is pinned (HEAPCHECK.md)") {
    // Without this, page size scales with the execution pool (up to
    // 64 MB at a 64g heap) and the dedup family's many-small-consumer
    // stages pay 5.7x task CPU in allocation/zeroing + humongous-region
    // GC (VERDICT r4 item 1, measured in HEAPCHECK.md).
    assert(spark.conf.get("spark.buffer.pageSize") == "4m")
  }

  test("engine-stability configs survive session construction") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("file: is graft's process-spawn-free local filesystem, for FileSystem and FileContext") {
    // the stock classes fork chmod per created file and readlink per
    // FileContext rename (~40 per streaming micro-batch)
    assert(spark.conf.get("spark.hadoop.fs.file.impl") == "graft.sources.GraftLocalFileSystem")
    assert(spark.conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      "graft.sources.GraftLocalFs")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    assert(fs.getClass == classOf[graft.sources.GraftLocalFileSystem])
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(new java.net.URI("file:///"), hadoopConf)
    assert(fc.getDefaultFileSystem.getClass == classOf[graft.sources.GraftLocalFs])
  }

  test("reliable-materialize checkpoints are cleaner-managed") {
    // without this, reliable mode's Dataset.checkpoint files outlive
    // every query in the session (nothing deletes them by default)
    assert(spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }
}
